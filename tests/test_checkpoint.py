"""Resumable checkpointing: resume-equals-fresh, skip-completed, upsert."""

import json
import os

from pyspark.sql import functions as F

from kgflow.plans import checkpoint as cp
from kgflow.plans import materialize as mat


def _triple_set(spark, out_dir):
    return {tuple(r) for r in cp.read_triples(spark, out_dir).collect()}


def test_resume_equals_fresh(spark, transcripts, lexicon, tmp_path):
    """Kill after k buckets → resume → identical to a fresh full run."""
    terms, isa = lexicon
    fresh_dir = str(tmp_path / "fresh")
    rep = cp.run_resumable(spark, transcripts, terms, isa, fresh_dir, buckets=8)
    assert rep.processed_buckets == rep.total_buckets
    fresh = _triple_set(spark, fresh_dir)
    assert fresh

    crash_dir = str(tmp_path / "crash")
    rep1 = cp.run_resumable(
        spark, transcripts, terms, isa, crash_dir, buckets=8, fail_after_buckets=3
    )
    assert rep1.processed_buckets == 3
    rep2 = cp.run_resumable(spark, transcripts, terms, isa, crash_dir, buckets=8)
    assert rep2.skipped_buckets == 3
    assert rep2.processed_buckets == rep2.total_buckets - 3
    assert _triple_set(spark, crash_dir) == fresh


def test_completed_run_skips_everything(spark, transcripts, lexicon, tmp_path):
    terms, isa = lexicon
    d = str(tmp_path / "done")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    rep = cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 0
    assert rep.skipped_buckets == rep.total_buckets


def test_changed_bucket_reprocessed(spark, transcripts, lexicon, tmp_path):
    """Fingerprint mismatch → only the changed bucket re-runs."""
    terms, isa = lexicon
    d = str(tmp_path / "chg")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    # mutate one conversation's text → its bucket's fingerprint changes
    mutated = transcripts.withColumn(
        "text",
        F.when(F.col("conv_id") == "conv-000000", F.concat(F.col("text"), F.lit(" zzz")))
        .otherwise(F.col("text")),
    )
    rep = cp.run_resumable(spark, mutated, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 1


def test_auto_bucket_count_deterministic(spark):
    df = spark.range(100).select(F.col("id").cast("string").alias("conv_id"))
    # 100 rows / 10 per bucket = 10 → next pow2 = 16
    assert cp.auto_bucket_count(df, target_rows_per_bucket=10) == 16
    # small inputs clamp to the floor — and 5% drift must not move it
    assert cp.auto_bucket_count(df, target_rows_per_bucket=200_000) == 8
    assert cp.auto_bucket_count(df.limit(95), target_rows_per_bucket=10) == 16


def test_auto_buckets_resume_reuses_recorded_count(spark, transcripts, lexicon, tmp_path):
    """buckets=None: a resumed run must reuse the ledger-recorded count
    even when the input has grown enough to change the auto derivation —
    a changed count would re-bucket every conversation and nothing on
    disk would line up. Resume with grown input still equals fresh."""
    from kgflow.plans import pipeline as P

    terms, isa = lexicon
    d = str(tmp_path / "auto")
    # fresh auto run on the small input records its count (clamp floor 8
    # here; the recorded value, not the derivation, is what resume uses)
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=None)
    led = cp.read_ledger(spark, d)
    counts = {r.buckets for r in led.select("buckets").distinct().collect()}
    assert counts == {8}
    # grow the input: new conversations (new buckets' content changes)
    grown = transcripts.unionByName(
        transcripts.withColumn("conv_id", F.concat(F.lit("x-"), "conv_id"))
    )
    rep = cp.run_resumable(spark, transcripts=grown, terms=terms, isa_edges=isa, out_dir=d, buckets=None)
    led2 = cp.read_ledger(spark, d)
    counts2 = {r.buckets for r in led2.select("buckets").distinct().collect()}
    assert counts2 == {8}  # recorded count reused, not re-derived
    assert rep.skipped_buckets == 0 or rep.processed_buckets > 0
    fresh = {
        tuple(r) for r in P.build_triples(grown, terms, isa).collect()
    }
    assert _triple_set(spark, d) == fresh


def test_ledger_lineage_counts(spark, transcripts, lexicon, tmp_path):
    terms, isa = lexicon
    d = str(tmp_path / "lin")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    ledger = cp.read_ledger(spark, d)
    assert ledger is not None
    rows = ledger.collect()
    assert all(r.status == "done" for r in rows)
    assert sum(r.rows_in for r in rows) == transcripts.count()
    assert all(r.input_fingerprint for r in rows)


def test_materialize_upsert(spark, tmp_path):
    """MERGE semantics on the parquet fallback sink."""
    path = str(tmp_path / "nodes")
    b1 = spark.createDataFrame([("a", "v1"), ("b", "v1")], "id string, val string")
    mat.upsert(b1, path, ["id"])
    b2 = spark.createDataFrame([("b", "v2"), ("c", "v2")], "id string, val string")
    mat.upsert(b2, path, ["id"])
    got = {
        (r.id, r.val) for r in mat.read_table(spark, path).select("id", "val").collect()
    }
    assert got == {("a", "v1"), ("b", "v2"), ("c", "v2")}
    # idempotent re-apply
    mat.upsert(b2, path, ["id"])
    got2 = {
        (r.id, r.val) for r in mat.read_table(spark, path).select("id", "val").collect()
    }
    assert got2 == got


def test_run_metrics_written(spark, transcripts, lexicon, tmp_path):
    import glob
    import json as _json

    terms, isa = lexicon
    d = str(tmp_path / "metrics")
    rep = cp.run_resumable(spark, transcripts, terms, isa, d, buckets=4)
    files = glob.glob(d + "/_metrics/*.json")
    assert len(files) == 1
    m = _json.loads(open(files[0]).read())
    assert m["run_id"] == rep.run_id
    assert m["rows_in"] == transcripts.count()
    assert m["triples"] == rep.triples_out > 0
    assert m["wall_sec"] > 0 and m["triples_per_sec"] > 0


def test_zero_output_bucket_clears_stale_triples(spark, transcripts, lexicon, tmp_path):
    """A re-processed bucket whose new input yields no triples must not
    leave the previous run's triples on disk."""
    terms, isa = lexicon
    d = str(tmp_path / "stale")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)

    # find the bucket of one conversation and gut it: single turn, no
    # mentionable text -> that bucket produces zero triples
    conv = "conv-000000"
    b = cp.with_bucket(transcripts, 8).filter(F.col("conv_id") == conv).select("bucket").first().bucket
    bucket_convs = [
        r.conv_id
        for r in cp.with_bucket(transcripts, 8)
        .filter(F.col("bucket") == b)
        .select("conv_id")
        .distinct()
        .collect()
    ]
    keep = transcripts.filter(~F.col("conv_id").isin(bucket_convs))
    gutted = spark.createDataFrame(
        [(c, 0, "user", "zzz", None, None) for c in bucket_convs],
        transcripts.schema,
    )
    mutated = keep.unionByName(gutted)

    rep = cp.run_resumable(spark, mutated, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 1
    got = {tuple(r) for r in cp.read_triples(spark, d).collect()}
    fresh_dir = str(tmp_path / "stale_fresh")
    cp.run_resumable(spark, mutated, terms, isa, fresh_dir, buckets=8)
    fresh = {tuple(r) for r in cp.read_triples(spark, fresh_dir).collect()}
    assert got == fresh  # no stale triples from the gutted bucket


def test_lexicon_change_invalidates_resume(spark, transcripts, lexicon, tmp_path):
    """terms/isa are inputs to every bucket: a changed lexicon must
    re-run all buckets, not serve stale fingerprint-matching output."""
    terms, isa = lexicon
    d = str(tmp_path / "lexchg")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)

    drop_id = terms.select("term_id").orderBy("term_id").first().term_id
    terms2 = terms.filter(F.col("term_id") != drop_id)
    rep = cp.run_resumable(spark, transcripts, terms2, isa, d, buckets=8)
    assert rep.skipped_buckets == 0
    assert rep.processed_buckets == rep.total_buckets

    fresh_dir = str(tmp_path / "lexchg_fresh")
    cp.run_resumable(spark, transcripts, terms2, isa, fresh_dir, buckets=8)
    assert _triple_set(spark, d) == _triple_set(spark, fresh_dir)


def test_disappeared_bucket_partition_cleared(spark, transcripts, lexicon, tmp_path):
    """A bucket whose input rows vanish entirely produces no fingerprint
    row and is never pending — its on-disk partition must still be
    cleared so read_triples stops serving it."""
    terms, isa = lexicon
    d = str(tmp_path / "gone")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)

    b = (
        cp.with_bucket(transcripts, 8)
        .filter(F.col("conv_id") == "conv-000000")
        .select("bucket")
        .first()
        .bucket
    )
    bucket_convs = [
        r.conv_id
        for r in cp.with_bucket(transcripts, 8)
        .filter(F.col("bucket") == b)
        .select("conv_id")
        .distinct()
        .collect()
    ]
    shrunk = transcripts.filter(~F.col("conv_id").isin(bucket_convs))
    rep = cp.run_resumable(spark, shrunk, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 0  # surviving buckets are unchanged

    fresh_dir = str(tmp_path / "gone_fresh")
    cp.run_resumable(spark, shrunk, terms, isa, fresh_dir, buckets=8)
    assert _triple_set(spark, d) == _triple_set(spark, fresh_dir)


def test_upsert_latest_call_wins_within_millisecond(spark, tmp_path):
    """The batch sequence is monotonic per call (max existing + 1), so
    back-to-back upserts inside one wall-clock millisecond still resolve
    latest-call-wins instead of falling to the content-hash tiebreak."""
    path = str(tmp_path / "fast")
    for val in ["v1", "v2", "v3"]:
        mat.upsert(
            spark.createDataFrame([("k", val)], "id string, val string"), path, ["id"]
        )
    rows = mat.read_table(spark, path).select("id", "val").collect()
    assert [(r.id, r.val) for r in rows] == [("k", "v3")]


def test_upsert_merge_props(spark, tmp_path):
    """C1 ON MATCH aggregate-merge (david_gene_name.cql:40-42): merge
    columns concat-on-collision (sorted distinct), others latest-wins."""
    path = str(tmp_path / "genes")
    b1 = spark.createDataFrame(
        [("g1", "alpha", 1), ("g2", "beta", 2)], "id string, names string, score int"
    )
    mat.upsert(b1, path, ["id"], mode="merge_props", merge_cols=["names"])
    b2 = spark.createDataFrame([("g1", "gamma", 9)], "id string, names string, score int")
    mat.upsert(b2, path, ["id"], mode="merge_props", merge_cols=["names"])
    got = {
        (r.id, r.names, r.score)
        for r in mat.read_table(spark, path).select("id", "names", "score").collect()
    }
    assert got == {("g1", "alpha,gamma", 9), ("g2", "beta", 2)}
    # idempotent re-apply: the same batch adds no new distinct values
    mat.upsert(b2, path, ["id"], mode="merge_props", merge_cols=["names"])
    got2 = {
        (r.id, r.names, r.score)
        for r in mat.read_table(spark, path).select("id", "names", "score").collect()
    }
    assert got2 == got


def test_pruned_bucket_reappearing_identical_is_rerun(spark, transcripts, lexicon, tmp_path):
    """ADVICE round-2 (medium): a vanished bucket's partition is pruned
    AND tombstoned; if the same input later reappears byte-identical,
    the bucket must be re-processed (the stale 'done' row must not make
    the resume anti-join skip it while its partition no longer exists)."""
    terms, isa = lexicon
    d = str(tmp_path / "reappear")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    full = _triple_set(spark, d)

    b = (
        cp.with_bucket(transcripts, 8)
        .filter(F.col("conv_id") == "conv-000000")
        .select("bucket")
        .first()
        .bucket
    )
    bucket_convs = [
        r.conv_id
        for r in cp.with_bucket(transcripts, 8)
        .filter(F.col("bucket") == b)
        .select("conv_id")
        .distinct()
        .collect()
    ]
    shrunk = transcripts.filter(~F.col("conv_id").isin(bucket_convs))
    cp.run_resumable(spark, shrunk, terms, isa, d, buckets=8)

    # the input reverts: same bucket, byte-identical content
    rep = cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 1  # the tombstoned bucket re-runs
    assert _triple_set(spark, d) == full


def test_iceberg_switch_falls_back_without_jar(spark, tmp_path):
    """The catalog switch: with no Iceberg jar on the classpath,
    upsert(iceberg_table=...) must detect that and take the parquet
    snapshot path with identical semantics."""
    assert mat.iceberg_available(spark) is False  # sandbox ships no jar
    path = str(tmp_path / "icefall")
    mat.upsert(
        spark.createDataFrame([("k", "v1")], "id string, val string"),
        path, ["id"], iceberg_table="iceberg.kg.nodes",
    )
    mat.upsert(
        spark.createDataFrame([("k", "v2"), ("j", "x")], "id string, val string"),
        path, ["id"], iceberg_table="iceberg.kg.nodes",
    )
    got = {(r.id, r.val) for r in mat.read_table(spark, path).select("id", "val").collect()}
    assert got == {("k", "v2"), ("j", "x")}


def test_iceberg_commit_props_atomic(spark, tmp_path, monkeypatch):
    """Replay-guard atomicity on the Iceberg route: commit_props must be
    live as ``snapshot-property.*`` session confs DURING the MERGE (so
    Iceberg stamps them into that commit's snapshot summary), unset
    afterwards, and a fresh table must route through empty-CREATE + MERGE
    (never CTAS) so batch 0's guard rides the commit that carries its
    rows. Exercised jar-free by intercepting spark.sql / tableExists."""
    from pyspark.sql.session import SparkSession

    calls = []
    real_sql = SparkSession.sql

    def fake_sql(self, q, *a, **kw):
        calls.append(
            (
                q,
                self.conf.get("snapshot-property.kgflow.stream_id", None),
                self.conf.get("snapshot-property.kgflow.merged_batch_id", None),
            )
        )
        if q.lstrip().upper().startswith(("CREATE", "MERGE")):
            return None  # no Iceberg jar — record and skip execution
        return real_sql(self, q, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", fake_sql)
    monkeypatch.setattr(mat, "iceberg_available", lambda s: True)
    from pyspark.sql.catalog import Catalog

    monkeypatch.setattr(Catalog, "tableExists", lambda self, t: False)

    df = spark.createDataFrame([("s", "p", "o", 1)], "subj string, pred string, obj string, n_obs long")
    mat.upsert(
        df, str(tmp_path / "unused"), ["subj", "pred", "obj"],
        mode="additive", add_cols=["n_obs"],
        iceberg_table="ice.kg.prov",
        commit_props={"kgflow.stream_id": "q-1", "kgflow.merged_batch_id": 0},
    )
    stmts = [c[0] for c in calls]
    assert any("WHERE 1 = 0" in s for s in stmts if s.startswith("CREATE"))
    merge = [c for c in calls if c[0].startswith("MERGE INTO ice.kg.prov")]
    assert len(merge) == 1
    # the guard confs were live during the MERGE call — same commit
    assert merge[0][1] == "q-1" and merge[0][2] == "0"
    # and unset once the upsert returned
    assert spark.conf.get("snapshot-property.kgflow.stream_id", None) is None

    # without commit_props a fresh table takes the one-commit CTAS
    calls.clear()
    mat.upsert(
        df, str(tmp_path / "unused2"), ["subj", "pred", "obj"],
        mode="additive", add_cols=["n_obs"], iceberg_table="ice.kg.prov2",
    )
    stmts = [c[0] for c in calls]
    assert any(s.startswith("CREATE TABLE ice.kg.prov2") and "WHERE 1 = 0" not in s for s in stmts)
    assert not any(s.startswith("MERGE") for s in stmts)


def test_merge_into_sql_builder(spark):
    """The MERGE INTO statement builder: correct join/update shape, and
    the merge_props ON MATCH expression is valid Spark SQL implementing
    the sorted-distinct comma-merge rule."""
    sql = mat.merge_into_sql(
        "cat.kg.genes", "src", ["id", "names", "score"], ["id"],
        mode="merge_props", merge_cols=["names"],
    )
    assert sql.startswith("MERGE INTO cat.kg.genes t USING src s ON t.id <=> s.id")
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert "t.score = s.score" in sql

    # extract the generated names-merge expression and evaluate it as a
    # plain SELECT: same rule as merge_props_resolve (sorted distinct)
    start = sql.index("t.names = ") + len("t.names = ")
    end = sql.index(", t.score")
    expr = sql[start:end].replace("t.names", "'b,a'").replace("s.names", "'c,a'")
    assert spark.sql(f"SELECT {expr} AS v").first().v == "a,b,c"

    latest = mat.merge_into_sql("cat.kg.t", "src", ["id", "v"], ["id"])
    assert "WHEN MATCHED THEN UPDATE SET *" in latest


def test_merge_into_sql_exclude_update_cols():
    """First-seen lineage columns (build_triples_prov.first_seen_run) are
    INSERTed for new keys but never overwritten on match."""
    sql = mat.merge_into_sql(
        "cat.kg.triples", "src",
        ["subj", "pred", "obj", "family", "n_obs", "first_seen_run"],
        ["subj", "pred", "obj"],
        exclude_update_cols=["first_seen_run"],
    )
    assert "t.family = s.family" in sql and "t.n_obs = s.n_obs" in sql
    assert "first_seen_run" not in sql.split("WHEN MATCHED")[1].split("WHEN NOT MATCHED")[0]
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # merge_props mode honors the exclusion too
    sql2 = mat.merge_into_sql(
        "t", "s", ["id", "names", "first_seen_run"], ["id"],
        mode="merge_props", merge_cols=["names"],
        exclude_update_cols=["first_seen_run"],
    )
    assert "t.first_seen_run" not in sql2.split("WHEN MATCHED")[1].split("WHEN NOT MATCHED")[0]
    # all value columns excluded: WHEN MATCHED is omitted entirely
    # (INSERT-only MERGE) so matched rows are genuinely untouched
    sql3 = mat.merge_into_sql(
        "t", "s", ["id", "first_seen_run"], ["id"],
        exclude_update_cols=["first_seen_run"],
    )
    assert "WHEN MATCHED" not in sql3
    assert "WHEN NOT MATCHED THEN INSERT *" in sql3


def test_upsert_fallback_keep_first(spark, tmp_path):
    """The parquet-snapshot fallback honors exclude_update_cols with the
    same observable rule as the Iceberg MERGE: first writer wins for the
    excluded column, latest wins elsewhere."""
    path = str(tmp_path / "t")
    mat.upsert(
        spark.createDataFrame([("k", 1, "run-a")], "id string, v int, seen string"),
        path, ["id"], exclude_update_cols=["seen"],
    )
    mat.upsert(
        spark.createDataFrame(
            [("k", 2, "run-b"), ("j", 9, "run-b")], "id string, v int, seen string"
        ),
        path, ["id"], exclude_update_cols=["seen"],
    )
    got = {
        (r.id, r.v, r.seen)
        for r in mat.read_table(spark, path).select("id", "v", "seen").collect()
    }
    assert got == {("k", 2, "run-a"), ("j", 9, "run-b")}


def test_ledger_quality_lineage(spark, transcripts, lexicon, tmp_path):
    """Ledger rows carry per-bucket data-quality aggregates (avg token
    count, scaled-int TTR, empty-turn count) beside the lineage counts."""
    terms, isa = lexicon
    d = str(tmp_path / "qual")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    led = cp.read_ledger(spark, d).filter(F.col("status") == "done").collect()
    assert led
    for r in led:
        assert r.avg_tokens is not None and r.avg_tokens > 0
        assert 0 < r.avg_ttr_q4 <= 10000
        assert r.empty_turns is not None and r.empty_turns >= 0
    # quality must describe the bucket's input: recompute one bucket
    b = led[0].partition_id
    got = (
        cp.bucket_quality(cp.with_bucket(transcripts, 8).filter(F.col("bucket") == b))
        .collect()[0]
    )
    assert (got.avg_tokens, got.avg_ttr_q4, got.empty_turns) == (
        led[0].avg_tokens, led[0].avg_ttr_q4, led[0].empty_turns,
    )


def test_merge_into_sql_additive(spark):
    """The additive MERGE shape (streaming provenance merge, O(|batch|)
    touched rows): add_cols sum onto the target, min_cols take least,
    first-seen columns stay excluded, everything else latest-wins."""
    sql = mat.merge_into_sql(
        "cat.kg.triples_prov", "src",
        ["subj", "pred", "obj", "family", "n_obs", "n_convs", "first_seen_run"],
        ["subj", "pred", "obj"],
        mode="additive",
        add_cols=["n_obs", "n_convs"],
        min_cols=["family"],
        exclude_update_cols=["first_seen_run"],
    )
    matched = sql.split("WHEN MATCHED")[1].split("WHEN NOT MATCHED")[0]
    assert "t.n_obs = t.n_obs + s.n_obs" in matched
    assert "t.n_convs = t.n_convs + s.n_convs" in matched
    assert "t.family = least(t.family, s.family)" in matched
    assert "first_seen_run" not in matched
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    # the generated SET expressions are valid Spark SQL
    assert spark.sql("SELECT 3 + 4 AS a, least('x', 'b') AS f").first()[1] == "b"


def test_upsert_additive_fallback(spark, tmp_path):
    """Parquet-fallback additive upsert: two drops accumulate support
    counts exactly like a one-shot aggregate over the union — the same
    observable semantics the Iceberg MERGE commits per batch."""
    path = str(tmp_path / "prov")
    cols = "k string, family string, n_obs long, n_convs long, first_seen_run string"
    kw = dict(
        keys=["k"], mode="additive", add_cols=["n_obs", "n_convs"],
        min_cols=["family"], exclude_update_cols=["first_seen_run"],
    )
    mat.upsert(
        spark.createDataFrame(
            [("a", "mention", 2, 1, "run-1"), ("b", "ontology", 5, 3, "run-1")],
            cols,
        ),
        path, **kw,
    )
    mat.upsert(
        spark.createDataFrame(
            [("a", "cooccur", 4, 2, "run-2"), ("c", "mention", 1, 1, "run-2")],
            cols,
        ),
        path, **kw,
    )
    got = {
        r.k: (r.family, r.n_obs, r.n_convs, r.first_seen_run)
        for r in mat.read_table(spark, path)
        .select("k", "family", "n_obs", "n_convs", "first_seen_run")
        .collect()
    }
    assert got == {
        "a": ("cooccur", 6, 3, "run-1"),  # summed, least(family), first run kept
        "b": ("ontology", 5, 3, "run-1"),
        "c": ("mention", 1, 1, "run-2"),
    }
    # a batch emitting one key twice contributes the same totals as two
    # separate batches (additive collapse within the batch)
    path2 = str(tmp_path / "prov2")
    mat.upsert(
        spark.createDataFrame(
            [("a", "mention", 2, 1, "run-1"), ("a", "cooccur", 4, 2, "run-1")],
            cols,
        ),
        path2, **kw,
    )
    r = mat.read_table(spark, path2).select("family", "n_obs", "n_convs").first()
    assert (r.family, r.n_obs, r.n_convs) == ("cooccur", 6, 3)


def test_resume_warns_on_ledger_without_bucket_count(
    spark, transcripts, lexicon, tmp_path, capsys
):
    """A pre-versioning ledger (no 'buckets' column) resumed with
    buckets=None must warn that the auto count may not match the
    existing layout (silent full re-run otherwise looks like a bug)."""
    import json
    import os
    import warnings

    terms, isa = lexicon
    d = str(tmp_path / "preledger")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    # strip the recorded count, simulating a pre-round-4 ledger
    ledger_dir = os.path.join(d, "_ledger")
    for f in os.listdir(ledger_dir):
        if not f.endswith(".json"):
            continue
        p = os.path.join(ledger_dir, f)
        rows = [json.loads(line) for line in open(p)]
        for r in rows:
            r.pop("buckets", None)
        with open(p, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        crc = os.path.join(ledger_dir, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cp.run_resumable(spark, transcripts, terms, isa, d, buckets=None)
    assert any("records no bucket count" in str(x.message) for x in w)


def _write_ledger(out_dir, files):
    import json
    import os

    led = os.path.join(out_dir, "_ledger")
    os.makedirs(led, exist_ok=True)
    for name, rows in files.items():
        with open(os.path.join(led, name), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")


def _spark_pending(spark, out_dir, fp_map, lex_fp):
    """The Spark formula the driver-side planning replaced: latest row
    per partition over all statuses, filtered to matching done rows,
    anti-joined against the fingerprints."""
    from kgflow.operators.canon import dedup_keep_first

    fps = spark.createDataFrame(
        [(b, fp, n) for b, (fp, n) in fp_map.items()],
        "bucket int, input_fingerprint string, rows_in long",
    )
    ledger = cp.read_ledger(spark, out_dir)
    if ledger is None or "lex_fingerprint" not in ledger.columns:
        pending = fps
    else:
        done = (
            dedup_keep_first(ledger, ["partition_id"], [F.desc("ts"), F.desc("run_id")])
            .filter(F.col("status") == "done")
            .filter(F.col("lex_fingerprint") == lex_fp)
            .select(F.col("partition_id").alias("bucket"), "input_fingerprint", "rows_in")
        )
        pending = fps.join(done, ["bucket", "input_fingerprint", "rows_in"], "left_anti")
    return sorted(r.bucket for r in pending.select("bucket").collect())


def test_ledger_planning_matches_spark_formula(spark, tmp_path):
    """Driver-side pending planning equals the Spark ledger formula on a
    ledger mixing pre-versioning rows (no lex_fingerprint / buckets
    keys) with new rows, ts ties broken by run_id, and a pruned
    tombstone over a done row."""
    lex = "LEX-1|ISA-1"
    fp_map = {b: (f"FP{b}", 10 + b) for b in range(11)}

    def row(b, run, ts, status="done", fp=None, rows_in=None, lex_fp=lex):
        r = {
            "run_id": run,
            "partition_id": b,
            "input_fingerprint": fp if fp is not None else f"FP{b}",
            "rows_in": rows_in if rows_in is not None else 10 + b,
            "triples_out": 1,
            "status": status,
            "ts": ts,
        }
        if lex_fp is not None:
            r.update(lex_fingerprint=lex_fp, buckets=16)
        return r

    old = [row(0, "run-a", 1.0, lex_fp=None), row(8, "run-a", 1.0, lex_fp=None)]
    new = [
        row(1, "run-b", 2.0),  # matching done row: skipped
        row(2, "run-b", 2.0, fp="STALE"),  # ts tie: run-c wins, matches
        row(2, "run-c", 2.0),
        row(3, "run-b", 2.0),  # ts tie: run-c wins, stale
        row(3, "run-c", 2.0, fp="STALE"),
        row(4, "run-b", 2.0),  # shadowed by the tombstone below
        row(5, "run-b", 2.0, lex_fp="LEX-0|ISA-1"),  # other lexicon
        row(6, "run-b", 2.0, rows_in=99),  # duplicated rows: same xor
        row(9, "run-b", 2.0),  # newer stale row wins
        row(9, "run-d", 3.0, fp="STALE"),
        row(10, "run-b", 2.0, fp="STALE"),  # newer matching row wins
        row(10, "run-d", 3.0),
        row(11, "run-b", 2.0),  # a bucket gone from the input
    ]
    prune = [row(4, "run-d", 3.0, status="pruned", fp="", rows_in=0)]
    d = str(tmp_path / "mixed")
    _write_ledger(d, {"run-a.json": old, "run-b.json": new, "run-d-prune.json": prune})

    got = cp.pending_buckets(fp_map, cp.ledger_rows(d), lex)
    assert got == _spark_pending(spark, d, fp_map, lex)
    assert got == [0, 3, 4, 5, 6, 7, 8, 9]

    # a ledger without any lex_fingerprint: nothing is provably done
    d_old = str(tmp_path / "old")
    _write_ledger(d_old, {"run-a.json": old})
    got_old = cp.pending_buckets(fp_map, cp.ledger_rows(d_old), lex)
    assert got_old == _spark_pending(spark, d_old, fp_map, lex) == sorted(fp_map)

    # no ledger at all
    d_none = str(tmp_path / "none")
    assert cp.ledger_rows(d_none) == []
    assert cp.pending_buckets(fp_map, [], lex) == _spark_pending(spark, d_none, fp_map, lex)


def test_ledger_triples_out_matches_disk(spark, transcripts, lexicon, tmp_path):
    """Each ledger row's triples_out is the row count under
    triples/bucket=<b> on disk, also for a re-run bucket whose new input
    yields zero triples (0, and its directory is gone)."""
    import os

    terms, isa = lexicon
    d = str(tmp_path / "out")

    def check(run_id):
        rows = [r for r in cp.ledger_rows(d) if r["run_id"] == run_id]
        assert rows
        for r in rows:
            part = os.path.join(d, "triples", f"bucket={r['partition_id']}")
            on_disk = spark.read.parquet(part).count() if os.path.isdir(part) else 0
            assert r["triples_out"] == on_disk, r["partition_id"]
        return {r["partition_id"]: r["triples_out"] for r in rows}

    first = check(cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8).run_id)
    assert all(n > 0 for n in first.values())

    # gut one bucket: a single mention-free turn per conversation
    bucketed = cp.with_bucket(transcripts, 8)
    b = bucketed.filter(F.col("conv_id") == "conv-000000").first().bucket
    convs = [
        r.conv_id
        for r in bucketed.filter(F.col("bucket") == b).select("conv_id").distinct().collect()
    ]
    gutted = transcripts.filter(~F.col("conv_id").isin(convs)).unionByName(
        spark.createDataFrame([(c, 0, "user", "zzz", None, None) for c in convs], transcripts.schema)
    )
    rep = cp.run_resumable(spark, gutted, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 1
    assert check(rep.run_id) == {b: 0}
    assert not os.path.exists(os.path.join(d, "triples", f"bucket={b}"))


def test_unchanged_rerun_job_count(spark, transcripts, lexicon, tmp_path):
    """An unchanged re-run scans its input once: the only Spark jobs it
    starts are the one fingerprint aggregate's, which hashes the input
    and both lexicon tables together. A change that re-scans the input,
    hashes a lexicon table in its own job or reads the ledger through
    Spark fails here."""
    terms, isa = lexicon
    d = str(tmp_path / "jobs")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    sc = spark.sparkContext
    group = "test-unchanged-rerun"
    sc.setJobGroup(group, "unchanged resumable re-run")
    try:
        rep = cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rep.processed_buckets == 0
    # bucket_fingerprints(tr, terms, isa_edges): one adaptive
    # shuffle-map job plus one result job
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def _parent_table_fingerprint(df):
    """The whole-table hash as its own aggregate — the formula ledgers
    already on disk were written with."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    row = (
        df.select(F.xxhash64(*cols).alias("_h"))
        .agg(F.bit_xor("_h").alias("_x"), F.count(F.lit(1)).alias("_n"))
        .first()
    )
    return f"{(row['_x'] or 0) & 0xFFFFFFFFFFFFFFFF:016X}-{row['_n']}"


def test_ledger_fingerprints_match_per_table_formula(spark, transcripts, lexicon, tmp_path):
    """The one fingerprint aggregate writes the same ledger strings as
    one aggregate per table did — bucket hex(bit_xor) and rows_in, and
    ``%016X-<n>`` per lexicon table, ``0000000000000000-0`` for an empty
    one — so ledgers written before it keep skipping."""
    terms, isa = lexicon
    tr = cp.with_bucket(transcripts, 8)
    per_bucket = {
        r.bucket: (r.fp, r.n)
        for r in tr.groupBy("bucket")
        .agg(
            F.hex(F.bit_xor(F.xxhash64("conv_id", "turn_idx", F.coalesce("text", F.lit(""))))).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    empty_isa = spark.createDataFrame([], isa.schema)
    assert _parent_table_fingerprint(empty_isa) == "0000000000000000-0"
    for i, edges in enumerate((isa, empty_isa)):
        d = str(tmp_path / f"out{i}")
        cp.run_resumable(spark, transcripts, terms, edges, d, buckets=8)
        rows = cp.ledger_rows(d)
        assert {r["partition_id"]: (r["input_fingerprint"], r["rows_in"]) for r in rows} == per_bucket
        lex_fp = _parent_table_fingerprint(terms) + "|" + _parent_table_fingerprint(edges)
        assert {r["lex_fingerprint"] for r in rows} == {lex_fp}


def test_emptied_isa_clears_ontology_bucket(spark, transcripts, lexicon, lexicon_pdf, tmp_path):
    """A re-run whose is-a table is empty writes no ontology rows, so the
    write leaves bucket -1 untouched: its previous IS_A/PART_OF/...
    triples must be removed, not served, and the triple set equals the
    oracle's for the empty table."""
    import os

    from kgflow import reference_oracle as ro

    terms, isa = lexicon
    terms_pdf, isa_pdf = lexicon_pdf
    d = str(tmp_path / "out")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    assert os.path.isdir(os.path.join(d, "triples", "bucket=-1"))

    empty_isa = spark.createDataFrame([], isa.schema)
    rep = cp.run_resumable(spark, transcripts, terms, empty_isa, d, buckets=8)
    assert rep.processed_buckets == rep.total_buckets
    assert not os.path.exists(os.path.join(d, "triples", "bucket=-1"))
    exp = ro.expected_triples(transcripts.toPandas(), terms_pdf, isa_pdf.iloc[:0])
    assert ro.precision_recall(_triple_set(spark, d), exp) == (1.0, 1.0)


def test_failed_write_keeps_previous_output(spark, transcripts, lexicon, tmp_path, monkeypatch):
    """A bucket write that fails inside its Spark job commits nothing:
    the pending buckets keep their previous files (dynamic partition
    overwrite replaces a partition only at job commit — what the
    before/after listing relies on), no ledger row is written, and the
    re-run equals a fresh run."""
    import os

    import pytest

    terms, isa = lexicon
    d = str(tmp_path / "out")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    mutated = transcripts.withColumn(
        "text",
        F.when(F.col("conv_id") == "conv-000000", F.concat(F.col("text"), F.lit(" zzz")))
        .otherwise(F.col("text")),
    )
    b = cp.with_bucket(transcripts, 8).filter(F.col("conv_id") == "conv-000000").first().bucket
    triples_dir = os.path.join(d, "triples")
    listing = {p: cp._bucket_files(triples_dir, p) for p in (b, -1)}
    ledger = cp.ledger_rows(d)

    @F.udf("boolean")
    def boom(bucket):
        if bucket == b:
            raise RuntimeError("simulated executor failure")
        return True

    write = cp._write_buckets
    calls = []

    def failing_write(df, path):
        calls.append(path)
        write(df.filter(boom("bucket")) if len(calls) == 1 else df, path)

    monkeypatch.setattr(cp, "_write_buckets", failing_write)
    with pytest.raises(Exception, match="simulated executor failure"):
        cp.run_resumable(spark, mutated, terms, isa, d, buckets=8)
    assert {p: cp._bucket_files(triples_dir, p) for p in listing} == listing
    assert cp.ledger_rows(d) == ledger

    rep = cp.run_resumable(spark, mutated, terms, isa, d, buckets=8)
    assert rep.processed_buckets == 1 and len(calls) == 2
    fresh_dir = str(tmp_path / "fresh")
    cp.run_resumable(spark, mutated, terms, isa, fresh_dir, buckets=8)
    assert _triple_set(spark, d) == _triple_set(spark, fresh_dir)
    latest = {r["partition_id"]: r for r in cp.ledger_rows(d) if r["run_id"] == rep.run_id}
    fresh = {r["partition_id"]: r for r in cp.ledger_rows(fresh_dir)}
    assert latest[b]["triples_out"] == fresh[b]["triples_out"]


def test_partial_rerun_job_count(spark, transcripts, lexicon, tmp_path):
    """A re-run of one changed bucket starts only the jobs that do work:
    the ontology rewrite runs no size-gate count or broadcast exchange,
    and the bucket write needs no checkpoint, count aggregate, window or
    triple exchange."""
    terms, isa = lexicon
    d = str(tmp_path / "jobs")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=8)
    mutated = transcripts.withColumn(
        "text",
        F.when(F.col("conv_id") == "conv-000000", F.concat(F.col("text"), F.lit(" zzz")))
        .otherwise(F.col("text")),
    )
    sc = spark.sparkContext
    group = "test-partial-rerun"
    sc.setJobGroup(group, "resumable re-run of one bucket")
    try:
        rep = cp.run_resumable(spark, mutated, terms, isa, d, buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rep.processed_buckets == 1
    # bucket_fingerprints: 2 (shuffle-map job + result job)
    # prepare_lexicon: 0 (the fixture's term table is a local relation,
    #   which collects without a job)
    # the bucket write: 2 (the turn exchange's shuffle-map job + the
    #   write; the ontology rows are deduped in one partition, and the
    #   ledger's quality values are summed by the extraction kernel)
    # A bucket_quality aggregate, a size-gate count or broadcast exchange
    # for the ontology rewrite, a checkpoint of the extraction, a
    # NEXT_TURN window, a triple dedup or a repartition before the
    # write, or a count aggregate of the written triples, adds jobs here.
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_resumable_write_plan_has_one_exchange(
    spark, transcripts, lexicon, tmp_path, monkeypatch, exchanges
):
    """The executed resumable write shuffles once — the turn rows,
    clustered by bucket — with no dedup exchange, window or repartition
    between the extraction and the write. The plan is read from the SQL
    status store, which records each query's executed plan."""
    terms, isa = lexicon
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = []
    orig = cp._write_buckets

    def capture(df, triples_dir):
        before.append(max((e.executionId() for e in executions()), default=-1))
        orig(df, triples_dir)

    monkeypatch.setattr(cp, "_write_buckets", capture)
    cp.run_resumable(spark, transcripts, terms, isa, str(tmp_path / "plan"), buckets=8)
    (write,) = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > before[0]
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]
    assert exchanges(write) == 1


def test_read_triples_lists_on_the_driver(spark, tmp_path):
    """More bucket directories than parallelPartitionDiscovery.threshold
    start no listing job, and the conf is put back after the read."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    d = str(tmp_path / "many")
    spark.range(-1, 40).select(
        F.lit("s").alias("subj"),
        F.lit("p").alias("pred"),
        F.lit("o").alias("obj"),
        F.col("id").cast("int").alias("bucket"),
    ).write.partitionBy("bucket").parquet(os.path.join(d, "triples"))
    sc = spark.sparkContext
    for prev in (None, "16"):
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        group = f"test-read-triples-{prev}"
        sc.setJobGroup(group, "read_triples")
        try:
            triples = cp.read_triples(spark, d)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert spark.conf.get(key, None) == prev
    spark.conf.unset(key)
    assert [tuple(r) for r in triples.collect()] == [("s", "p", "o")]


def _quality_json(row):
    return json.dumps([row["avg_tokens"], row["avg_ttr_q4"], row["empty_turns"]])


# Turn texts for the ledger-quality tests: null, empty, space-only,
# tab-only and newline text, upper-case and non-ASCII tokens, one-token
# turns, then fillers that put the whole input on two rounding ties:
# 101 tokens over 40 turns is avg_tokens 2.525 (its double lies BELOW
# the tie, so rounding the double would give 2.52), and the ttr_q4 sum
# 272,500 over 40 turns is 6812.5.
_HOSTILE_TEXTS = [
    None, "", "   ", "\t", " \t ", "\n", "ÜBER straße Über", "Word", "word WORD",
    "Ĳssel ĳssel ÆON æon", "one", "Alpha beta alpha", "日本 語 日本",
    "  lead and trail  ", "tab\tsep\ttab", "x",
]
_HOSTILE_TEXTS += (
    ["w"] * 4 + ["w w"] * 2 + ["w v"] * 4 + ["w w w"] * 4
    + ["w w w w"] * 4 + ["w v w w"] * 3 + ["u v w w"] * 3
)


def test_ledger_quality_equals_bucket_quality(spark, lexicon, tmp_path):
    """Every done ledger row's quality values, summed by the extraction
    kernel and rounded on the driver, equal bucket_quality's as JSON
    text — on hostile text, across Arrow batches of 3 rows, in one
    bucket that sits on an exact .xx5 avg_tokens tie and a .5 TTR tie,
    and in three buckets."""
    terms, isa = lexicon
    rows = [(f"c{i % 9}", i, "user", t) for i, t in enumerate(_HOSTILE_TEXTS)]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for buckets in (1, 3):
            d = str(tmp_path / f"q{buckets}")
            cp.run_resumable(spark, tr, terms, isa, d, buckets=buckets)
            led = [r for r in cp.ledger_rows(d) if r["status"] == "done"]
            assert len(led) == buckets
            want = {
                r["bucket"]: _quality_json(r.asDict())
                for r in cp.bucket_quality(cp.with_bucket(tr, buckets)).collect()
            }
            assert {r["partition_id"]: _quality_json(r) for r in led} == want
    finally:
        spark.conf.set(key, prev)
    # the one-bucket run is on both ties, rounded half up
    n_tok, ttr_q4, _ = cp._turn_quality()
    sums = tr.agg(F.count(F.lit(1)), F.sum(n_tok), F.sum(ttr_q4)).first()
    assert (sums[0], sums[1], int(sums[2])) == (40, 101, 272_500)
    (one,) = [r for r in cp.ledger_rows(str(tmp_path / "q1")) if r["status"] == "done"]
    assert (one["avg_tokens"], one["avg_ttr_q4"], one["empty_turns"]) == (2.53, 6813, 3)


def test_bucket_tally_merge_replaces(spark):
    """The tally accumulator merges by replacing each bucket's entry:
    the same task update applied twice (a re-executed task) leaves the
    value unchanged, and other buckets' entries are kept."""
    from kgflow.operators import extract

    tally = extract.bucket_tally(spark)
    update = {3: [2, 5, 15000, 2, 0, 4]}
    tally.add(dict(update))
    tally.add(dict(update))
    assert tally.value == update
    tally.add({7: [1, 1, 10000, 1, 0, 0]})
    assert tally.value == {**update, 7: [1, 1, 10000, 1, 0, 0]}


def test_run_metrics_count_mentions(spark, transcripts, lexicon, tmp_path):
    """RunMetrics' mentions and linked come from the extraction kernel:
    both equal extract_mentions' row count (every fused-path mention
    links)."""
    from kgflow.operators import extract
    from kgflow.plans import pipeline as P

    terms, isa = lexicon
    d = str(tmp_path / "mentions")
    cp.run_resumable(spark, transcripts, terms, isa, d, buckets=4)
    (f,) = os.listdir(os.path.join(d, "_metrics"))
    with open(os.path.join(d, "_metrics", f)) as fh:
        m = json.loads(fh.read())
    n = extract.extract_mentions(transcripts, P.prepare_lexicon(terms).surfaces).count()
    assert n > 0
    assert m["mentions"] == m["linked"] == n


def test_composition_path_ledger_keeps_quality(spark, transcripts, lexicon, tmp_path, monkeypatch):
    """A Lexicon without driver maps (the composition path) still
    records bucket_quality's values in the ledger, the same as the
    fused path's, and writes null — not 0 — for the mention counts it
    does not measure."""
    import functools

    from kgflow.plans import pipeline as P

    terms, isa = lexicon
    fused = str(tmp_path / "fused")
    cp.run_resumable(spark, transcripts, terms, isa, fused, buckets=4)
    monkeypatch.setattr(
        P, "prepare_lexicon", functools.partial(P.prepare_lexicon, max_fused_surfaces=0)
    )
    composed = str(tmp_path / "composed")
    cp.run_resumable(spark, transcripts, terms, isa, composed, buckets=4)

    def quality(d):
        return {r["partition_id"]: _quality_json(r) for r in cp.ledger_rows(d)}

    assert quality(composed) == quality(fused)
    assert all(json.loads(q) != [None, None, None] for q in quality(composed).values())
    (f,) = os.listdir(os.path.join(composed, "_metrics"))
    with open(os.path.join(composed, "_metrics", f)) as fh:
        m = json.loads(fh.read())
    assert m["mentions"] is None and m["linked"] is None
    assert _triple_set(spark, composed) == _triple_set(spark, fused)

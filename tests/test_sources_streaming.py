"""Sources (CSV/OBO readers) and Structured Streaming incremental runs."""

import os

from pyspark.sql import functions as F

from kgflow.sources import readers
from kgflow.streaming import incremental

_OBO = """format-version: 1.2

[Term]
id: GO:0000001
name: mitochondrion inheritance
namespace: biological_process
def: "The distribution of mitochondria." [GOC:mcc]
synonym: "mitochondrial inheritance" EXACT []
alt_id: GO:0000100
is_a: GO:0048308 ! organelle inheritance
relationship: part_of GO:0048311 ! mitochondrion distribution

[Term]
id: GO:0000002
name: mitochondrial genome maintenance
namespace: biological_process
is_obsolete: true

[Typedef]
id: part_of
name: part of
"""


def test_parse_obo():
    terms, edges = readers.parse_obo(_OBO)
    assert len(terms) == 2
    t = terms[terms.term_id == "GO:0000001"].iloc[0]
    assert t["name"] == "mitochondrion inheritance"
    assert t.synonyms == ["mitochondrial inheritance"]
    assert t.alt_ids == ["GO:0000100"]
    assert not t.is_obsolete
    assert terms[terms.term_id == "GO:0000002"].iloc[0].is_obsolete
    got = {tuple(r) for r in edges.itertuples(index=False)}
    assert got == {
        ("GO:0000001", "is_a", "GO:0048308"),
        ("GO:0000001", "part_of", "GO:0048311"),
    }


def test_load_obo_roundtrip(spark, tmp_path):
    p = tmp_path / "mini.obo"
    p.write_text(_OBO)
    terms, edges = readers.load_obo(spark, str(p))
    assert terms.count() == 2
    assert edges.count() == 2
    assert terms.filter("is_obsolete").count() == 1


def test_read_delimited_arrays_and_trim(spark, tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("id\tpmids\n A1 \t1; 2;3;\nA2\t\n")
    df = readers.read_delimited(spark, str(p), sep="\t", array_cols={"pmids": ";"})
    rows = {r.id: r.pmids for r in df.collect()}
    assert rows["A1"] == ["1", "2", "3"]
    assert rows["A2"] in (None, [])


def test_read_positional_skip(spark, tmp_path):
    p = tmp_path / "p.csv"
    p.write_text("#comment,x\n#another,y\na,1\nb,2\n")
    df = readers.read_positional(spark, str(p), n_cols=2, skip_prefix="#")
    assert {tuple(r) for r in df.collect()} == {("a", "1"), ("b", "2")}


def test_incremental_extract_matches_batch(spark, transcripts, lexicon, tmp_path):
    """availableNow streaming over two file drops == one batch run."""
    from kgflow.plans import pipeline as P

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    half1 = transcripts.filter(F.col("conv_id") < "conv-000015")
    half2 = transcripts.filter(F.col("conv_id") >= "conv-000015")
    half1.write.mode("append").parquet(in_dir)

    n1 = incremental.incremental_extract(spark, in_dir, out_dir, terms, isa)
    assert n1 >= 1
    half2.write.mode("append").parquet(in_dir)
    incremental.incremental_extract(spark, in_dir, out_dir, terms, isa)

    got = {tuple(r) for r in incremental.read_stream_triples(spark, out_dir).collect()}
    # batch reference on the union; conv-local triple families match
    # exactly; the only cross-conv family (ontology) is conv-independent
    batch = {tuple(r) for r in P.build_triples(transcripts, terms, isa).collect()}
    assert got == batch


def test_streaming_sessions(spark, tmp_path):
    """Append mode emits sessions once the watermark passes them — so a
    later file drop finalizes the earlier sessions (real streaming
    semantics: nothing is emitted for still-open windows)."""

    def ev(rows):
        return spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    in_dir = str(tmp_path / "ev")
    out_dir = str(tmp_path / "sess")
    ev(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 02:00:00"),
            (2, "2024-01-01 00:00:00"),
        ]
    ).write.mode("append").parquet(in_dir)
    incremental.streaming_sessions(spark, in_dir, out_dir)
    # watermark-advancing drop two days later closes all day-1 sessions
    ev([(99, "2024-01-03 00:00:00")]).write.mode("append").parquet(in_dir)
    out = incremental.streaming_sessions(spark, in_dir, out_dir)
    per_user = {
        r.user_id: r.n
        for r in out.filter("user_id < 99")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_user == {1: 2, 2: 1}
    totals = {
        r.user_id: r.total
        for r in out.groupBy("user_id").agg(F.sum("n_events").alias("total")).collect()
    }
    assert totals[1] == 3 and totals[2] == 1


def test_stateful_next_turn_across_drops(spark, tmp_path):
    """A conversation split across drops still yields every adjacency
    edge exactly once (the applyInPandasWithState path — lifts the
    conversation-complete contract of incremental_extract)."""
    from kgflow.streaming import stateful

    def tr(rows):
        return spark.createDataFrame(
            [(c, i, "user", f"t{i}", None, None) for c, i in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    tr([("c1", 0), ("c1", 1), ("c2", 0)]).write.mode("append").parquet(in_dir)
    stateful.stateful_next_turn(spark, in_dir, out_dir)
    # second drop continues c1 and c2 — the 1→2 bridge edge crosses drops
    tr([("c1", 2), ("c2", 1), ("c1", 2)]).write.mode("append").parquet(in_dir)
    got = {
        tuple(r) for r in stateful.stateful_next_turn(spark, in_dir, out_dir).collect()
    }
    assert got == {
        ("turn:c1:0", "NEXT_TURN", "turn:c1:1"),
        ("turn:c1:1", "NEXT_TURN", "turn:c1:2"),
        ("turn:c2:0", "NEXT_TURN", "turn:c2:1"),
    }


def test_incremental_prov_additive(spark, transcripts, lexicon, tmp_path):
    """Streaming provenance snapshot: support counts accumulate
    additively across conversation-complete drops and match a one-shot
    provenance run over the full input; first_seen_run is stable."""
    from kgflow.plans import pipeline as P

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    half1 = transcripts.filter(F.col("conv_id") < "conv-000015")
    half2 = transcripts.filter(F.col("conv_id") >= "conv-000015")

    half1.write.mode("append").parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    snap1 = {
        (r.subj, r.pred, r.obj): r.first_seen_run
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    assert snap1

    half2.write.mode("append").parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    final = incremental.read_prov_triples(spark, out_dir).collect()

    got = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs) for r in final
    }
    oneshot = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs)
        for r in P.build_triples_prov(transcripts, terms, isa).collect()
    }
    assert got == oneshot
    # triples first seen in drop 1 keep their original run id
    for r in final:
        k = (r.subj, r.pred, r.obj)
        if k in snap1:
            assert r.first_seen_run == snap1[k]


def test_incremental_prov_replay_idempotent(spark, transcripts, lexicon, tmp_path):
    """foreachBatch is at-least-once: a crash between the snapshot write
    and the stream-checkpoint commit replays the batch on restart. The
    exact failure is simulated by deleting the checkpoint's latest
    `commits/<N>` marker (offsets written, commit missing — same stream
    query id): the restarted drain re-delivers batch N, and the
    (stream_id, merged_batch_id) guard riding the snapshot pointer must
    skip it, leaving every additive count unchanged."""
    import os

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    transcripts.filter(F.col("conv_id") < "conv-000010").write.mode(
        "append"
    ).parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    before = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs, r.first_seen_run)
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    assert before
    commits = tmp_path / "out" / "_stream_prov_checkpoint" / "commits"
    latest = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    os.remove(commits / latest)
    # drop the Hadoop LocalFS checksum twin too — a stale .crc makes the
    # replayed batch's commit write fail as "concurrent modification"
    crc = commits / f".{latest}.crc"
    if crc.exists():
        os.remove(crc)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    after = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs, r.first_seen_run)
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    assert after == before


def test_incremental_prov_checkpoint_reset_raises(spark, transcripts, lexicon, tmp_path):
    """Deleting the WHOLE checkpoint while keeping the snapshot is not a
    replay — the fresh stream restarts batch ids at 0 and an additive
    merge can neither skip (loses new data) nor re-merge (double
    counts). The stream-id guard must refuse loudly."""
    import shutil

    import pytest

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    transcripts.filter(F.col("conv_id") < "conv-000010").write.mode(
        "append"
    ).parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    shutil.rmtree(tmp_path / "out" / "_stream_prov_checkpoint")
    with pytest.raises(Exception, match="checkpoint was reset"):
        incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)


def test_incremental_doc_stats(spark, tmp_path):
    """Two document drops drained incrementally == one batch pass over
    the full corpus; a checkpoint-loss replay leaves the keyed snapshot
    unchanged (latest-wins upsert is naturally replay-idempotent)."""
    import shutil

    from kgflow.functions import text as tx

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox", "en", "web", 19),
            (1, "der hund und die katze ist", "de", "web", 26),
            (2, None, "en", "web", 0),
            (3, "one two three four five six seven", "en", "book", 33),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    docs.filter("doc_id < 2").write.mode("append").parquet(in_dir)
    assert incremental.incremental_doc_stats(spark, in_dir, out_dir) >= 1
    docs.filter("doc_id >= 2").write.mode("append").parquet(in_dir)
    incremental.incremental_doc_stats(spark, in_dir, out_dir)

    got = {tuple(r) for r in incremental.read_doc_stats(spark, out_dir).collect()}
    t = F.coalesce(F.col("text"), F.lit(""))
    want = {
        tuple(r)
        for r in docs.select(
            "doc_id",
            "source",
            tx.fingerprint(t).alias("fingerprint"),
            tx.token_count(t).alias("n_tokens"),
            tx.quality_score(t).alias("quality"),
            tx.lang_guess(t).alias("lang_guess"),
        ).collect()
    }
    assert got == want
    # worst-case replay: lose the checkpoint, re-drain everything
    shutil.rmtree(tmp_path / "out" / "_doc_stats_checkpoint")
    incremental.incremental_doc_stats(spark, in_dir, out_dir)
    again = {tuple(r) for r in incremental.read_doc_stats(spark, out_dir).collect()}
    assert again == got


def test_incremental_prov_unguarded_snapshot_refused(
    spark, transcripts, lexicon, tmp_path
):
    """A snapshot that exists but carries no stream_id meta (pre-guard
    version) must be REFUSED, not merged additively — an at-least-once
    replay against it would silently double-count. allow_unguarded=True
    overrides explicitly."""
    import json
    import os

    import pytest

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    transcripts.filter(F.col("conv_id") < "conv-000010").write.mode(
        "append"
    ).parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    before = {
        (r.subj, r.pred, r.obj): (r.n_obs, r.n_convs)
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    # simulate the pre-guard snapshot: strip stream_id from the pointer
    ptr = os.path.join(out_dir, "triples_prov", "_LATEST")
    d = json.load(open(ptr))
    d["meta"].pop("stream_id", None)
    d["meta"].pop("merged_batch_id", None)
    with open(ptr, "w") as fh:
        json.dump(d, fh)
    transcripts.filter(F.col("conv_id") >= "conv-000010").write.mode(
        "append"
    ).parquet(in_dir)
    with pytest.raises(Exception, match="records no stream_id"):
        incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    # explicit override proceeds (and, with the drop being genuinely
    # new data, lands the correct totals)
    incremental.incremental_extract_prov(
        spark, in_dir, out_dir, terms, isa, allow_unguarded=True
    )
    after = {
        (r.subj, r.pred, r.obj): (r.n_obs, r.n_convs)
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    assert set(before) <= set(after) and len(after) >= len(before)


def test_incremental_prov_iceberg_two_drops(spark, transcripts, lexicon, tmp_path):
    """The Iceberg route of the provenance merge: two conversation-
    complete drops through additive MERGE INTO == the one-shot batch
    aggregate. Runs only when the Iceberg runtime is on the classpath
    (the sandbox ships none — the parquet-fallback twin of this
    scenario is test_incremental_prov_additive)."""
    import pytest

    from kgflow.plans import materialize as mat
    from kgflow.plans import pipeline as P

    if not mat.iceberg_available(spark):
        pytest.skip("Iceberg runtime not on the classpath")
    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    table = "iceberg_test.kg.triples_prov"
    half1 = transcripts.filter(F.col("conv_id") < "conv-000015")
    half2 = transcripts.filter(F.col("conv_id") >= "conv-000015")
    half1.write.mode("append").parquet(in_dir)
    incremental.incremental_extract_prov(
        spark, in_dir, out_dir, terms, isa, iceberg_table=table
    )
    half2.write.mode("append").parquet(in_dir)
    incremental.incremental_extract_prov(
        spark, in_dir, out_dir, terms, isa, iceberg_table=table
    )
    got = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs)
        for r in spark.table(table).collect()
    }
    oneshot = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs)
        for r in P.build_triples_prov(transcripts, terms, isa).collect()
    }
    assert got == oneshot


def test_pack_sequences_from_doc_stats(spark, tmp_path):
    """Composition: the incrementally-maintained doc-stats table feeds
    sequence packing WITHOUT re-tokenizing — pack output via
    n_tokens_col over the maintained table is identical to packing from
    raw text."""
    import os

    from kgflow.operators import sample

    docs = spark.createDataFrame(
        [
            (i, f"src{i % 2}", "en", " ".join(f"tok{j}" for j in range(3 + i % 7)))
            for i in range(60)
        ],
        "doc_id long, source string, lang string, text string",
    )
    in_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "stats_out")
    docs.write.mode("append").parquet(in_dir)
    incremental.incremental_doc_stats(spark, in_dir, out_dir)
    stats = incremental.read_doc_stats(spark, out_dir)
    # doc_stats carries (doc_id, source, n_tokens): join nothing, pack it
    from_stats = {
        tuple(r)
        for r in sample.pack_sequences(
            stats, budget=16, n_tokens_col="n_tokens"
        ).collect()
    }
    from_text = {
        tuple(r) for r in sample.pack_sequences(docs, budget=16).collect()
    }
    assert from_stats == from_text and from_stats


def test_source_mix_from_doc_stats(spark, tmp_path):
    """Composition: the maintained doc-stats table serves as the mix's
    MEASURE pass (stats=...), so only the filter touches the corpus —
    membership must be identical to measuring from raw text (the stats
    table's n_tokens IS the same token_count)."""
    from kgflow.operators import sample

    docs = spark.createDataFrame(
        [
            (i, ["web", "books", "code"][i % 3], "en",
             " ".join(f"w{j}" for j in range(2 + i % 9)))
            for i in range(90)
        ],
        "doc_id long, source string, lang string, text string",
    )
    in_dir = str(tmp_path / "mix_docs_in")
    out_dir = str(tmp_path / "mix_stats_out")
    docs.write.mode("append").parquet(in_dir)
    incremental.incremental_doc_stats(spark, in_dir, out_dir)
    stats = incremental.read_doc_stats(spark, out_dir)
    docs = spark.read.parquet(in_dir)  # file-backed: scans are countable
    weights = {"web": 0.5, "books": 0.5}  # code visibly excluded
    kw = dict(weights=weights, token_budget=120)
    from_text = {
        r.doc_id for r in sample.source_mix_sample(docs, **kw).collect()
    }
    from_stats_df = sample.source_mix_sample(docs, stats=stats, **kw)
    from_stats = {r.doc_id for r in from_stats_df.collect()}
    assert from_stats == from_text and from_stats
    # the measure side must come from the STATS table, leaving the
    # corpus scanned exactly once (the filter pass). The measured rates
    # sit behind gated_broadcast's cache (InMemoryTableScan), so the
    # LIVE plan's only file inputs are the corpus files — once.
    fresh = sample.source_mix_sample(docs, stats=stats, **kw)
    files = fresh.inputFiles()
    assert files and all("mix_docs_in" in f for f in files)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # the stats-measured rate table


def test_streaming_exact_dedup_across_drops(spark, tmp_path):
    """Cross-batch fingerprint dedup: a drop-2 copy of a drop-1 doc is
    caught as an exact dup OF THE DROP-1 CANONICAL ID (the state IS
    the store); whitespace/case variants share a fingerprint; a
    re-delivered canonical row does not re-emit or steal ownership."""
    from kgflow.streaming import stateful

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs([(1, "aa bb cc"), (2, "dd ee ff"), (3, "aa  BB cc")]).write.mode(
        "append"
    ).parquet(in_dir)
    r1 = {
        r.doc_id: (r.status, r.dup_of)
        for r in stateful.streaming_exact_dedup(spark, in_dir, out_dir).collect()
    }
    assert r1 == {
        1: ("unique", None),
        2: ("unique", None),
        3: ("exact", 1),
    }
    # drop 2: new doc, a copy of drop-1's doc 2, and doc 1 re-delivered
    docs([(10, "gg hh ii"), (11, "dd ee ff"), (1, "aa bb cc")]).write.mode(
        "append"
    ).parquet(in_dir)
    r2 = {
        r.doc_id: (r.status, r.dup_of)
        for r in stateful.streaming_exact_dedup(spark, in_dir, out_dir).collect()
    }
    assert r2 == {
        1: ("unique", None),
        2: ("unique", None),
        3: ("exact", 1),
        10: ("unique", None),
        11: ("exact", 2),
    }


def test_read_table_uses_recorded_schema(spark, transcripts, lexicon, tmp_path):
    """``read_table`` reads a snapshot with the schema ``write_snapshot``
    recorded in its pointer: the schema ``spark.read.parquet`` infers,
    for the provenance snapshot and for ``doc_stats``, with no Spark
    job. A legacy pointer without ``schema`` still reads (by inference)."""
    import json

    from kgflow.plans import materialize as mat

    terms, isa = lexicon
    in_dir, doc_dir, out_dir = (str(tmp_path / n) for n in ("in", "docs", "out"))
    transcripts.filter(F.col("conv_id") < "conv-000005").write.parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    spark.createDataFrame(
        [(0, "the quick brown fox", "en", "web", 19), (1, None, "en", "book", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(doc_dir)
    incremental.incremental_doc_stats(spark, doc_dir, out_dir)

    sc = spark.sparkContext
    for table in ("triples_prov", "doc_stats"):
        path = os.path.join(out_dir, table)
        ptr_file = os.path.join(path, "_LATEST")
        with open(ptr_file) as fh:
            ptr = json.load(fh)
        inferred = spark.read.parquet(os.path.join(path, ptr["snapshot"])).schema
        group = f"test-read-table-{table}"
        sc.setJobGroup(group, "read_table")
        try:
            got = mat.read_table(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert got.schema == inferred
        assert sc.statusTracker().getJobIdsForGroup(group) == []

        rows = sorted(map(tuple, got.collect()), key=str)
        del ptr["schema"]
        with open(ptr_file, "w") as fh:
            json.dump(ptr, fh)
        legacy = mat.read_table(spark, path)
        assert legacy.schema == inferred
        assert sorted(map(tuple, legacy.collect()), key=str) == rows


def test_incremental_prov_ontology_edge_that_is_also_a_transcript_triple(spark, tmp_path):
    """An is-a edge that equals a transcript triple (KG:A co_occurs_with
    KG:B, and both terms co-occur in every drop) is counted once as an
    ontology fact: after three drops the snapshot equals
    build_triples_prov over the landed input (n_obs 1 + 3 = 4), not 6."""
    from kgflow import schemas
    from kgflow.plans import pipeline as P

    terms = spark.createDataFrame(
        [
            ("KG:A", "alpha", "kg", None, [], None, [], False),
            ("KG:B", "beta", "kg", None, [], None, [], False),
        ],
        "term_id string, name string, namespace string, definition string, "
        "synonyms array<string>, xrefs array<string>, alt_ids array<string>, is_obsolete boolean",
    )
    isa = spark.createDataFrame(
        [("KG:A", "co_occurs_with", "KG:B")], "subject_id string, predicate string, object_id string"
    )
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    for drop in range(3):
        spark.createDataFrame(
            [(f"c{drop}", 0, "user", "alpha and beta", None, None)], schemas.TRANSCRIPT
        ).write.mode("append").parquet(in_dir)
        incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    key = ("KG:A", "CO_OCCURS_WITH", "KG:B")
    got = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs)
        for r in incremental.read_prov_triples(spark, out_dir).collect()
    }
    landed = spark.read.schema(schemas.TRANSCRIPT).parquet(in_dir)
    want = {
        (r.subj, r.pred, r.obj): (r.family, r.n_obs, r.n_convs)
        for r in P.build_triples_prov(landed, terms, isa).collect()
    }
    assert want[key] == ("cooccur", 4, 3)
    assert got == want


def test_drain_write_plan_has_two_exchanges(spark, transcripts, lexicon, tmp_path, monkeypatch, exchanges):
    """A drain into an existing snapshot shuffles twice in its executed
    write plan: the batch's turns, and ONE (subj, pred, obj) aggregate
    that merges the snapshot's rows with the batch's."""
    from kgflow.plans import materialize as mat

    terms, isa = lexicon
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    transcripts.filter(F.col("conv_id") < "conv-000010").write.parquet(in_dir)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    transcripts.filter(F.col("conv_id") >= "conv-000010").write.mode("append").parquet(in_dir)

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = []
    orig = mat.write_snapshot

    def capture(df, *args, **kwargs):
        before.append(max((e.executionId() for e in executions()), default=-1))
        return orig(df, *args, **kwargs)

    monkeypatch.setattr(mat, "write_snapshot", capture)
    incremental.incremental_extract_prov(spark, in_dir, out_dir, terms, isa)
    (write,) = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > before[0]
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]
    assert exchanges(write) == 2

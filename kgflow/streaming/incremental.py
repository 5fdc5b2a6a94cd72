"""Incremental pipeline runs via Structured Streaming availableNow.

The reference has no streaming; its incremental idiom is the polled
work queue (``WHERE p.title IS NULL LIMIT batch``,
neo4j_pubmed_batch_embeddings_processor.py:495-506). The forward-
compatible Spark expression is a file-source stream with
``Trigger.AvailableNow``: each run picks up exactly the new input files
(exactly-once via the stream checkpoint), processes them through the
same batch DAG in ``foreachBatch``, and stops. Continuous ingestion is
then a config change, not a rewrite.

Also provides gap-session aggregation with ``session_window`` — the
stateful-streaming twin of ``operators.sessionize``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def _stream_query_id(checkpoint_loc: str) -> str | None:
    """The streaming query's persistent id, read from the checkpoint's
    ``metadata`` file. Survives crash/restart (same checkpoint → same
    id); a DELETED checkpoint produces a fresh id — which is how the
    provenance replay guard distinguishes an at-least-once replay
    (skip) from an operator resetting the stream (must not silently
    skip). Driver-local filesystem here; the Hadoop FS API is the
    cluster form."""
    p = os.path.join(checkpoint_loc, "metadata")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh).get("id")


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    terms: DataFrame,
    isa_edges: DataFrame,
) -> int:
    """Process only new transcript parquet files since the last run.

    Returns the number of micro-batches processed. Triples are appended
    per-batch; the global view dedups on read (same contract as the
    checkpointed batch writer).

    CONTRACT: each file drop must be conversation-complete (all turns of
    a conv_id in one drop). Turn-adjacency triples (NEXT_TURN) are
    derived within a batch; a conversation split across drops would lose
    its cross-drop adjacency edge. conv_id-hash bucketed producers
    satisfy this naturally; a stateful applyInPandasWithState variant
    would lift the restriction at the cost of per-conv state.
    """
    from ..plans import pipeline as P

    lex = P.prepare_lexicon(terms)  # once per stream drain, not per batch
    stream = (
        spark.readStream.schema(schemas.TRANSCRIPT)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_dir)
    )
    batches = {"n": 0}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batches["n"] += 1
        triples = P.build_triples(batch_df, terms, isa_edges, lex=lex)
        triples.write.mode("append").parquet(os.path.join(out_dir, "triples"))

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(out_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def incremental_extract_prov(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    terms: DataFrame,
    isa_edges: DataFrame,
    run_prefix: str = "stream",
    iceberg_table: str | None = None,
    allow_unguarded: bool = False,
) -> int:
    """Incremental extraction that maintains a PROVENANCE-keyed triple
    snapshot instead of an append log: per micro-batch, the batch's
    per-conversation provenance rows (``pipeline._prov_rows``) are
    merged into the keyed snapshot with ADDITIVE support counts —
    ``n_obs`` and ``n_convs`` sum across batches (exact under the
    conversation-complete drop contract: each conv_id lands wholly in
    one drop, so no supporting conversation is double-counted),
    ``family`` is stable (min), and ``first_seen_run`` keeps the
    earliest batch's run id (zero-padded batch ids make lexicographic
    min = earliest). The result equals ``build_triples_prov`` over every
    drop merged so far.

    Ontology rows are static dimension facts that every batch re-emits:
    only the first batch counts them. They are dropped from a later
    batch's rows BEFORE the (subj, pred, obj) aggregate — after it, an
    is-a edge that is also a transcript triple would take the
    transcript's family and be added again on every drain.

    Two correctness guards an additive merge needs and the plain append
    path (which dedups on read) does not:

    * ONE BATCH PER DRAIN — no ``maxFilesPerTrigger``. A file-count
      split could straddle one conversation's part-files across two
      micro-batches and double-count its ``n_convs``; with availableNow
      draining everything in a single batch, the conversation-complete
      contract only has to hold per DROP, which the producer satisfies
      by construction (all files present at drain time form one batch).
    * REPLAY GUARD — ``foreachBatch`` is at-least-once: a crash between
      the snapshot write and the stream-checkpoint commit replays the
      batch on restart, which would double the counts silently. The
      (stream query id, max merged batch id) pair rides the snapshot
      pointer flip atomically (``write_snapshot(meta=...)``), and
      ``handle`` skips a batch only when BOTH match — batch ids alone
      are meaningless across streams: a deleted/reset checkpoint
      restarts numbering at 0, and silently skipping (or worse,
      additively re-merging) everything would corrupt the counts either
      way, so a stream-id mismatch against an existing snapshot raises
      with instructions instead. (The Iceberg form of the same guard is
      a MERGE conditioned on commit-property stream+batch ids.)

    The merge is committed per batch through ``materialize``:

    * **Iceberg runtime present and ``iceberg_table`` given** — one
      additive ``MERGE INTO`` (``upsert(mode="additive")``): matched
      triple keys get ``n_obs = t.n_obs + s.n_obs`` etc., ``family``
      via ``least``, ``first_seen_run`` excluded from the update list
      (first writer wins). Per-drain cost is **O(|batch|)** touched
      rows — the whole point: the parquet fallback below re-aggregates
      existing ∪ batch, i.e. O(|snapshot|) per drain, which at 10⁹
      accumulated triples pays a full-table shuffle+rewrite for every
      small drop. The replay guard rides the MERGE's own SNAPSHOT
      SUMMARY (``snapshot-property.*`` session confs → Iceberg commit
      metadata), so guard and data commit atomically — the exact
      commit-atomicity the fallback's pointer flip provides. Tables
      written by the pre-atomic version (guard in TBLPROPERTIES via a
      separate follow-up commit) are still read via the legacy
      fallback.
    * **fallback** — the keyed parquet snapshot with the guard riding
      the atomic pointer flip. The existing snapshot's rows and the
      batch's provenance rows go through ONE (subj, pred, obj)
      aggregate (``pipeline._sum_prov``), so the write shuffles twice:
      the batch's turns, and that aggregate.

    A snapshot that EXISTS but carries no stream_id meta (written by a
    pre-guard version, or checkpoint metadata unreadable) is refused:
    merging additively without replay protection can silently
    double-count. Pass ``allow_unguarded=True`` to accept that risk
    explicitly (a loud warning is still printed).

    Returns micro-batches processed.
    """
    from ..plans import materialize as mat
    from ..plans import pipeline as P

    lex = P.prepare_lexicon(terms)
    snap_path = os.path.join(out_dir, "triples_prov")
    ckpt_loc = os.path.join(out_dir, "_stream_prov_checkpoint")
    stream = spark.readStream.schema(schemas.TRANSCRIPT).parquet(input_dir)
    batches = {"n": 0}
    use_iceberg = iceberg_table is not None and mat.iceberg_available(spark)

    def _check_guard(
        meta: dict | None, stream_id: str | None, batch_id: int, where: str
    ) -> bool:
        """True → skip this batch (already merged). Raises on unsafe
        states; returns False when the merge should proceed."""
        if meta is None:
            return False
        if meta.get("stream_id") is None:
            msg = (
                f"incremental_extract_prov: the provenance snapshot at "
                f"{where} exists but records no stream_id (pre-guard "
                "version, or checkpoint metadata unreadable) — an "
                "at-least-once replay would re-merge additively and "
                "double-count n_obs/n_convs with no error. Delete the "
                "snapshot to rebuild provenance from scratch, or pass "
                "allow_unguarded=True to merge anyway."
            )
            if not allow_unguarded:
                raise RuntimeError(msg)
            import sys

            print(f"WARNING: {msg} (allow_unguarded=True)", file=sys.stderr)
            return False
        if meta["stream_id"] != stream_id:
            raise RuntimeError(
                "incremental_extract_prov: the provenance snapshot at "
                f"{where} was built by stream {meta['stream_id']} but "
                f"this query is {stream_id} — the checkpoint was reset "
                "while the snapshot was kept. Additive counts cannot "
                "survive that: restore the original checkpoint, or delete "
                "the snapshot to rebuild provenance from scratch."
            )
        return batch_id <= int(meta.get("merged_batch_id", -1))

    GUARD_KEYS = ["kgflow.stream_id", "kgflow.merged_batch_id"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stream_id = _stream_query_id(ckpt_loc)
        if use_iceberg:
            # The guard lives in the SNAPSHOT SUMMARY of the MERGE commit
            # itself (commit_props below), so guard and data commit
            # atomically — no crash window where a batch merged but its
            # guard record did not (the TBLPROPERTIES read is only a
            # legacy fallback for tables written by the pre-atomic
            # version, which recorded the guard in a separate commit).
            props = mat.snapshot_summary_props(spark, iceberg_table, GUARD_KEYS)
            if props is None:
                legacy = mat.read_table_props(spark, iceberg_table)
                if any(legacy.get(k) is not None for k in GUARD_KEYS):
                    props = {k: legacy.get(k) for k in GUARD_KEYS}
            meta = None
            if props is not None:
                meta = {
                    "stream_id": props.get("kgflow.stream_id"),
                    "merged_batch_id": int(
                        props.get("kgflow.merged_batch_id") or -1
                    ),
                }
            elif spark.catalog.tableExists(iceberg_table):
                meta = {"stream_id": None}  # table exists, no guard props
            if _check_guard(meta, stream_id, batch_id, iceberg_table):
                return
            batches["n"] += 1
            rows = P._prov_rows(batch_df, isa_edges, lex, f"{run_prefix}-{batch_id:09d}")
            if spark.catalog.tableExists(iceberg_table):
                rows = rows.filter(F.col("family") != "ontology")
            mat.upsert(
                P._sum_prov(rows),
                path=snap_path,  # unused on the Iceberg route
                keys=["subj", "pred", "obj"],
                mode="additive",
                add_cols=["n_obs", "n_convs"],
                min_cols=["family"],
                exclude_update_cols=["first_seen_run"],
                iceberg_table=iceberg_table,
                commit_props={
                    "kgflow.stream_id": stream_id,
                    "kgflow.merged_batch_id": batch_id,
                },
            )
            return
        meta = mat.read_pointer_meta(snap_path)
        if _check_guard(meta, stream_id, batch_id, snap_path):
            return  # at-least-once replay of an already-merged batch
        batches["n"] += 1
        rows = P._prov_rows(batch_df, isa_edges, lex, f"{run_prefix}-{batch_id:09d}")
        existing = mat.read_table(spark, snap_path)
        if existing is not None:
            rows = existing.unionByName(rows.filter(F.col("family") != "ontology"))
        mat.write_snapshot(
            P._sum_prov(rows),
            snap_path,
            meta={"merged_batch_id": batch_id, "stream_id": stream_id},
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_loc)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def incremental_doc_stats(
    spark: SparkSession, input_dir: str, out_dir: str
) -> int:
    """Streaming maintenance of the per-document quality table: each
    availableNow drain computes fingerprint / token count / quality /
    language for exactly the NEW document files and upserts them into a
    keyed snapshot (``materialize.upsert``, one row per doc_id, latest
    wins) — the incremental twin of the batch ``doc_fingerprint`` /
    ``text_stats`` / ``quality_score`` queries, mirroring the
    reference's polled NULL-property work queue
    (``neo4j_pubmed_batch_embeddings_processor.py:495-506``) without
    polling. Unlike the additive provenance merge, a keyed latest-wins
    upsert is NATURALLY replay-idempotent: re-merging a replayed batch
    rewrites identical rows, so no batch-id guard is needed. Returns
    micro-batches processed.
    """
    from ..functions import text as tx
    from ..plans import materialize as mat

    try:
        schema = spark.read.parquet(input_dir).schema
    except Exception:
        # landing dir not created / no files yet: a maintenance job
        # finding nothing to maintain is a no-op, not a crash
        return 0
    stream = spark.readStream.schema(schema).parquet(input_dir)
    batches = {"n": 0}
    t = F.coalesce(F.col("text"), F.lit(""))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batches["n"] += 1
        stats = batch_df.select(
            "doc_id",
            "source",
            tx.fingerprint(t).alias("fingerprint"),
            tx.token_count(t).alias("n_tokens"),
            tx.quality_score(t).alias("quality"),
            tx.lang_guess(t).alias("lang_guess"),
        )
        mat.upsert(stats, os.path.join(out_dir, "doc_stats"), keys=["doc_id"])

    q = (
        stream.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation", os.path.join(out_dir, "_doc_stats_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]


def read_doc_stats(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from ..plans import materialize as mat

    t = mat.read_table(spark, os.path.join(out_dir, "doc_stats"))
    return None if t is None else t.drop("_batch_seq")


def read_prov_triples(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from ..plans import materialize as mat

    return mat.read_table(spark, os.path.join(out_dir, "triples_prov"))


def read_stream_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return (
        spark.read.parquet(os.path.join(out_dir, "triples"))
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )


def streaming_sessions(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked session_window aggregation over an event stream,
    drained with availableNow. Returns (user_id, session_start,
    session_end, n_events) — one row per closed session."""
    events = spark.readStream.schema(
        spark.read.parquet(input_dir).schema
    ).parquet(input_dir)
    agg = (
        events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, f"{gap_minutes * 4} minutes")
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("w"),
            F.col(user_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "sessions"))
        .option("checkpointLocation", os.path.join(out_dir, "_sessions_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out_dir, "sessions"))

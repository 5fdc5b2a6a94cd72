"""Per-partition lineage ledger + resumable incremental runs.

Replaces the reference's work-queue resume idioms — ``WHERE p.title IS
NULL LIMIT batch`` polling (``neo4j_pubmed_batch_embeddings_processor.py:
495-506``) and ``needs_properties`` placeholder flags
(``neo4j_cancerkg_builder.py:124-139``) — with an explicit bucket-level
ledger:

* input transcripts carry ``bucket = pmod(xxhash64(conv_id), P)``;
* each bucket's content fingerprint = xor-agg of per-row hashes (order
  independent, computed map-side, one tiny shuffle). A run scans its
  input for fingerprints ONCE and collects the one-row-per-bucket
  result; the pending set, the prune set and the ledger rows are all
  derived from that driver-side map. The lexicon's term and is-a
  tables are hashed in the same aggregate (one group each), so an
  unchanged re-run is a single shuffle and one collect;
* the pending buckets' turns are clustered by bucket in one exchange,
  and their triples — distinct per conversation as the extraction
  emits them, so no dedup exchange follows — are written in ONE job,
  partitioned by bucket with dynamic partition overwrite:
  re-processing a bucket is idempotent, and a failed write leaves every previous partition in
  place. No count job follows it: the driver lists each pending
  bucket's directory (and the ontology bucket ``-1``'s) before and
  after the write, removes the ones the write did not replace (their
  new input yields no triples) and reads ``triples_out`` from the
  parquet footers of the rest;
* a completed bucket writes one ledger row (a JSON line under
  ``_ledger/``) with lineage counts (rows_in, triples_out), the
  fingerprint and the bucket's text quality (``bucket_quality``'s
  values). The quality comes out of the write job itself: each pending
  turn's quality values ride beside its text into the extraction
  kernel, which sums them per bucket in its task and hands the sums to
  the driver in one accumulator — no second scan, no aggregate job;
* on restart the ledger is read and planned on the driver: a bucket
  whose latest ledger row is ``done`` with a matching fingerprint is
  skipped.

The ledger, the listing and the footer reads use the driver's
filesystem, so ``out_dir`` must be driver-local (or a mount every
executor shares).

At 100 TB the ledger is thousands of rows — driver-negligible — while
the skipped work is the entire completed input.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract


def auto_bucket_count(
    transcripts: DataFrame, target_rows_per_bucket: int = 200_000
) -> int:
    """Deterministic bucket count from input size: the next power of two
    that keeps buckets near ``target_rows_per_bucket`` rows, clamped to
    [8, 4096]. Power-of-two keeps counts stable under small input drift
    (a 5% growth must NOT change the count — resume depends on it)."""
    import math

    n = transcripts.count()
    raw = max(1.0, n / target_rows_per_bucket)
    return max(8, min(4096, 2 ** math.ceil(math.log2(raw))))


def with_bucket(transcripts: DataFrame, buckets: int) -> DataFrame:
    if "bucket" in transcripts.columns:
        return transcripts
    return transcripts.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int")
    )


def bucket_fingerprints(
    transcripts: DataFrame, *tables: DataFrame
) -> tuple[dict[int, tuple[str, int]], list[str]]:
    """(bucket → (input_fingerprint, rows_in), [table fingerprint per
    ``tables``]) from ONE aggregate: the input's row hashes and each
    table's ``table_fingerprint`` rows, tagged and unioned, grouped by
    (tag, bucket) — one map-side-combined shuffle, one collect.

    The bucket fingerprint is ``hex(bit_xor)`` of the row hashes — an
    order-insensitive content hash. ``rows_in`` is part of the resume
    match key, not just lineage: the xor-agg cancels on even
    multiplicities (adding two copies of an existing row leaves the xor
    unchanged), and the row count catches every pure-duplication
    collision for free. A table fingerprint is ``%016X-<rows>`` of its
    xor-agg; an empty table has no group and reads
    ``0000000000000000-0``.
    """
    row_hash = F.xxhash64("conv_id", "turn_idx", F.coalesce("text", F.lit("")))
    tagged = transcripts.select(F.lit(-1).alias("_t"), "bucket", row_hash.alias("_h"))
    for i, t in enumerate(tables):
        tagged = tagged.unionByName(
            table_fingerprint(t).select(
                F.lit(i).alias("_t"), F.lit(None).cast("int").alias("bucket"), "_h"
            )
        )
    rows = (
        tagged.groupBy("_t", "bucket")
        # xor-agg: order-insensitive, overflow-free under ANSI mode
        .agg(F.bit_xor("_h").alias("_x"), F.count(F.lit(1)).alias("_n"))
        .select("_t", "bucket", "_x", F.hex("_x").alias("_hex"), "_n")
        .collect()
    )
    fp_map = {}
    table_fps = ["0000000000000000-0"] * len(tables)
    for tag, bucket, x, hex_x, n in rows:
        if tag < 0:
            fp_map[bucket] = (hex_x, n)
        else:
            table_fps[tag] = f"{x & 0xFFFFFFFFFFFFFFFF:016X}-{n}"
    return fp_map, table_fps


def _turn_quality():
    """The per-turn values ``bucket_quality`` averages: the token count,
    the scaled-integer TTR (null for a turn without tokens) and whether
    the text is blank (null text counts as empty)."""
    from ..functions import text as tx

    t = F.coalesce(F.col("text"), F.lit(""))
    toks = tx.tokens(t)
    n_tok = F.size(toks)
    ttr_q4 = F.when(
        n_tok > 0, F.round(F.size(F.array_distinct(toks)) * 10000 / n_tok, 0)
    )
    return n_tok, ttr_q4, F.trim(t) == ""


def bucket_quality(transcripts: DataFrame) -> DataFrame:
    """(bucket, avg_tokens, avg_ttr_q4, empty_turns) — per-bucket
    data-quality aggregates recorded in the ledger beside the lineage
    counts, so a resumable run emits quality lineage per partition (the
    batch form of the lexical-diversity / quality-score queries).

    Scaled-integer TTR (×10⁴) keeps the aggregate exact across partition
    orders. ``run_resumable`` takes the same values from the extraction
    kernel's per-bucket sums (``_ledger_quality``) and runs this
    aggregate only for a Lexicon without driver maps.
    """
    n_tok, ttr_q4, empty = _turn_quality()
    return transcripts.groupBy("bucket").agg(
        F.round(F.avg(n_tok), 2).alias("avg_tokens"),
        F.round(F.avg(ttr_q4), 0).cast("long").alias("avg_ttr_q4"),
        F.sum(F.when(empty, 1).otherwise(0)).cast("long").alias("empty_turns"),
    )


def _ledger_quality(turns, tokens, ttr_sum, ttr_turns, empty):
    """``bucket_quality``'s (avg_tokens, avg_ttr_q4, empty_turns) from
    one bucket's ``extract.bucket_tally`` sums, rounded HALF_UP in
    integer arithmetic. That equals Spark's ``round(avg, d)``, which
    rounds the shortest decimal form of the double average: a tie
    (``.xx5``, ``.5``) has that short form exactly, and a non-tie lies
    at least 1/(200·turns) from the rounding boundary — far more than
    the double's error."""
    avg_tokens = (200 * tokens + turns) // (2 * turns) / 100
    avg_ttr_q4 = (2 * ttr_sum + ttr_turns) // (2 * ttr_turns) if ttr_turns else None
    return avg_tokens, avg_ttr_q4, empty


def table_fingerprint(df: DataFrame) -> DataFrame:
    """One ``_h`` hash per row of ``df`` — the rows of the order-insensitive
    whole-table content hash ``bucket_fingerprints`` aggregates. It
    versions the lexicon/ontology inputs inside the ledger match key, so
    a changed term table invalidates every bucket's resume row. Columns
    are hashed in name order, cast to string, null as NUL."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    return df.select(F.xxhash64(*cols).alias("_h"))


@dataclass
class ResumeReport:
    run_id: str
    total_buckets: int
    skipped_buckets: int
    processed_buckets: int
    triples_out: int


def _bucket_files(triples_dir: str, bucket: int) -> frozenset[str]:
    """File names under ``triples/bucket=<bucket>`` (empty if absent).
    Spark names every written file after its write job, so a rewritten
    partition never lists the same set as before."""
    part = os.path.join(triples_dir, f"bucket={bucket}")
    return frozenset(os.listdir(part)) if os.path.isdir(part) else frozenset()


def _write_buckets(triples_b: DataFrame, triples_dir: str) -> None:
    triples_b.write.mode("overwrite").partitionBy("bucket").parquet(triples_dir)


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the block, then put
    back the previous value (or unset it) so unrelated work keeps its
    semantics."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_ledger")


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = _ledger_path(out_dir)
    if not os.path.exists(p):
        return None
    return spark.read.json(p)


def ledger_rows(out_dir: str) -> list[dict]:
    """Every ledger row as a dict, read on the driver: ``run_resumable``
    writes the ledger with ``open()``, so it lives on the driver's
    filesystem. A key an older ledger row lacks reads as absent (null)."""
    p = _ledger_path(out_dir)
    if not os.path.isdir(p):
        return []
    rows = []
    for f in sorted(os.listdir(p)):
        if not f.startswith((".", "_")):  # the files spark.read.json skips
            with open(os.path.join(p, f)) as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def _recency(row: dict) -> tuple:
    return row["ts"], row["run_id"]


def pending_buckets(
    fp_map: dict[int, tuple[str, int]], ledger: list[dict], lex_fp: str
) -> list[int]:
    """Sorted buckets of ``fp_map`` (bucket → (input_fingerprint,
    rows_in)) that must (re)run against the ``ledger`` rows.

    Only a bucket's LATEST ledger row reflects what is on disk — an
    older fingerprint may match re-reverted input while the partition
    still holds a different run's output. Latest is taken over ALL
    statuses by (ts, run_id) descending (a 'pruned' tombstone must
    shadow the 'done' row underneath it), THEN filtered to done rows of
    the same lexicon version. A row without ``lex_fingerprint`` (a
    pre-versioning ledger: no proof the lexicon matched) never skips.
    """
    latest: dict[int, dict] = {}
    for r in ledger:
        b = r["partition_id"]
        if b not in latest or _recency(r) > _recency(latest[b]):
            latest[b] = r
    done = {
        b: (r.get("input_fingerprint"), r.get("rows_in"))
        for b, r in latest.items()
        if r.get("status") == "done" and r.get("lex_fingerprint") == lex_fp
    }
    return sorted(b for b, fp in fp_map.items() if done.get(b) != fp)


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    terms: DataFrame,
    isa_edges: DataFrame,
    out_dir: str,
    buckets: int | None = 32,
    fail_after_buckets: int | None = None,
) -> ResumeReport:
    """Extract triples bucket-by-bucket group with ledger skip/resume.

    ``buckets=None`` derives the count from the input size
    (``auto_bucket_count``) — but ONLY on a fresh run. Once a ledger
    exists, its recorded count is authoritative: the on-disk partition
    layout and every fingerprint row were computed under it, so a
    resumed auto run MUST reuse it even if the input has since grown
    past the auto threshold (a changed count would re-bucket every
    conversation — nothing would line up). Changing the count requires
    an explicit ``buckets=`` (which re-runs everything, since no
    fingerprint computed under a different count can match).

    ``fail_after_buckets`` simulates a mid-run crash for the
    resume-equals-fresh test: only the first k pending buckets are
    processed and the ledger records exactly those.

    Jobs: one fingerprint aggregate, the lexicon's one bounded collect,
    and the bucket write (the turn exchange plus the write). The
    ledger's quality values and the run record's mention counts are
    the extraction kernel's per-bucket sums (``extract.bucket_tally``),
    rounded on the driver (``_ledger_quality``). A Lexicon without
    driver maps has no fused kernel: it runs the ``bucket_quality``
    aggregate instead, and its run record has null mention counts.
    """
    from . import pipeline as P

    t_start = time.time()
    run_id = f"run-{int(t_start * 1000)}"
    ledger = ledger_rows(out_dir)
    if buckets is None:
        counted = [r for r in ledger if r.get("buckets") is not None]
        recorded = int(max(counted, key=_recency)["buckets"]) if counted else None
        if recorded is None and ledger:
            # a ledger exists but records no bucket count (written by a
            # pre-recording version): the auto count chosen now may
            # differ from the one the on-disk layout was built under, in
            # which case every fingerprint mismatches and the whole
            # corpus re-runs. Say so — a silent full re-run reads as a
            # resume bug, not a versioning consequence.
            import sys
            import warnings

            auto = auto_bucket_count(transcripts)
            msg = (
                f"run_resumable(buckets=None): the ledger at {out_dir} "
                "records no bucket count (pre-versioning ledger); using "
                f"auto_bucket_count={auto}. If the existing layout was "
                "built under a different count, no fingerprint will match "
                "and ALL buckets will re-run. Pass buckets=<original "
                "count> explicitly to resume the old layout."
            )
            warnings.warn(msg, stacklevel=2)
            print(f"WARNING: {msg}", file=sys.stderr)
            buckets = auto
        else:
            buckets = recorded if recorded is not None else auto_bucket_count(transcripts)
    tr = with_bucket(transcripts, buckets)
    # the one scan of the input: every later use (pending, prune set,
    # ledger lineage) reads this driver-side map. terms/isa_edges are
    # inputs to every bucket's triples (linking, HAS_NS, canonical
    # mapping) — their content hashes, from the same aggregate, join the
    # resume match key so a changed lexicon re-runs every bucket instead
    # of silently serving stale fingerprint-matching output.
    fp_map, lex_fps = bucket_fingerprints(tr, terms, isa_edges)
    total = len(fp_map)
    lex_fp = "|".join(lex_fps)
    pending_list = pending_buckets(fp_map, ledger, lex_fp)

    # A bucket whose input rows disappeared entirely has no fp_map entry
    # and is never pending — its on-disk partition must be cleared here
    # or read_triples keeps serving it (runs before the early return so
    # a shrink-only change is still applied).
    triples_dir = os.path.join(out_dir, "triples")
    if os.path.isdir(triples_dir):
        valid = set(fp_map) | {-1}
        pruned: list[int] = []
        for d in os.listdir(triples_dir):
            if d.startswith("bucket="):
                try:
                    bv = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                if bv not in valid:
                    shutil.rmtree(os.path.join(triples_dir, d), ignore_errors=True)
                    pruned.append(bv)
        if pruned:
            # tombstone the pruned buckets: without it, the bucket's old
            # 'done' row stays latest, and a byte-identical reappearance
            # of its input would be skipped while the partition dir no
            # longer exists (silently serving zero triples).
            os.makedirs(_ledger_path(out_dir), exist_ok=True)
            t_now = time.time()
            with open(
                os.path.join(_ledger_path(out_dir), f"{run_id}-prune.json"), "w"
            ) as fh:
                for bv in pruned:
                    fh.write(
                        json.dumps(
                            {
                                "run_id": run_id,
                                "partition_id": int(bv),
                                "input_fingerprint": "",
                                "lex_fingerprint": lex_fp,
                                "rows_in": 0,
                                "triples_out": 0,
                                "buckets": int(buckets),
                                "status": "pruned",
                                "ts": t_now,
                            }
                        )
                        + "\n"
                    )
    if fail_after_buckets is not None:
        pending_list = pending_list[:fail_after_buckets]
    if not pending_list:
        return ResumeReport(run_id, total, total, 0, 0)

    todo = tr.filter(F.col("bucket").isin(pending_list))
    lex = P.prepare_lexicon(terms)
    if lex.canon_map is None:
        # a Lexicon without driver maps has no fused kernel to sum in
        tally = None
        quality = {
            r["bucket"]: (r["avg_tokens"], r["avg_ttr_q4"], r["empty_turns"])
            for r in bucket_quality(todo).collect()
        }
    else:
        # the extraction kernel sums each pending turn's quality values
        # per bucket in its task (extract.bucket_tally); the ledger reads
        # them after the write, with no scan or aggregate of its own
        tally = extract.bucket_tally(spark)
        n_tok, ttr_q4, empty = _turn_quality()
        values = (n_tok, ttr_q4.cast("long"), empty)
        todo = todo.select("*", *(v.alias(c) for v, c in zip(values, extract.QUALITY_COLS)))
    # the input's bucket column rides along: build_triples clusters the
    # turns by it, so the rows below reach the write already partitioned
    # by bucket (ontology rows in one partition of their own)
    triples = P.build_triples(todo, terms, isa_edges, with_src=True, lex=lex, tally=tally)

    # bucket = the source conversation's bucket (same function as the
    # input bucketing), so a bucket's triples are a pure function of that
    # bucket's transcripts; ontology triples (no src_conv) go to -1 and
    # are recomputed idempotently on every run.
    triples_b = triples.withColumn(
        "bucket",
        F.when(
            F.col("src_conv").isNotNull(),
            F.pmod(F.xxhash64("src_conv"), F.lit(buckets)).cast("int"),
        ).otherwise(F.lit(-1)),
    ).drop("src_conv")
    # dynamic partition overwrite: only the buckets the write holds rows
    # for are replaced, each at job commit, so a re-run of the same
    # bucket is idempotent and a failed write leaves every previous
    # partition in place. The session conf is restored afterwards so
    # unrelated writes keep their semantics.
    #
    # One write job after the turn exchange, no checkpoint, no
    # repartition and no count job: the triples are distinct per source
    # conversation as the extraction emits them, and each task holds
    # whole buckets. The driver lists each pending bucket's directory
    # (and bucket -1's) before and after the write. A directory whose
    # file set did not change was not rewritten — its new input yields
    # zero triples (or the is-a table emptied) — so its previous output
    # is stale and is removed (the parquet analogue of Iceberg's
    # replaceWhere). A rewritten directory's triples_out is the sum of
    # its parquet footers' row counts.
    listed = [*pending_list, -1]
    before = {b: _bucket_files(triples_dir, b) for b in listed}
    with _scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        _write_buckets(triples_b, triples_dir)

    stats: dict[int, int] = {}
    for b in listed:
        files = _bucket_files(triples_dir, b)
        part = os.path.join(triples_dir, f"bucket={b}")
        if files == before[b]:
            shutil.rmtree(part, ignore_errors=True)
        else:
            stats[b] = sum(
                pq.read_metadata(os.path.join(part, f)).num_rows
                for f in files
                if not f.startswith((".", "_"))
            )

    if tally is not None:
        sums = tally.value
        quality = {b: _ledger_quality(*v[:5]) for b, v in sums.items()}
    os.makedirs(_ledger_path(out_dir), exist_ok=True)
    rows = []
    now = time.time()
    for b in pending_list:
        fp, rows_in = fp_map[b]
        avg_tok, ttr_q4, n_empty = quality.get(b, (None, None, None))
        rows.append(
            {
                "run_id": run_id,
                "partition_id": int(b),
                "input_fingerprint": fp,
                "lex_fingerprint": lex_fp,
                "rows_in": int(rows_in),
                "triples_out": int(stats.get(b, 0)),
                # data-quality lineage (per-bucket aggregates, see
                # bucket_quality): resumable runs audit WHAT they
                # processed, not just how much
                "avg_tokens": float(avg_tok) if avg_tok is not None else None,
                "avg_ttr_q4": int(ttr_q4) if ttr_q4 is not None else None,
                "empty_turns": int(n_empty) if n_empty is not None else None,
                # the bucket count this run partitioned under — the
                # resume-time authority for buckets=None auto runs
                "buckets": int(buckets),
                "status": "done",
                "ts": now,
            }
        )
    fname = os.path.join(_ledger_path(out_dir), f"{run_id}.json")
    with open(fname, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    report = ResumeReport(
        run_id,
        total,
        total - len(pending_list),
        len(pending_list),
        sum(stats.values()),
    )
    # run-level metrics artifact (throughput + counts) next to the ledger
    from .metrics import RunMetrics

    m = RunMetrics(run_id=run_id)
    m.started_at = t_start
    m.rows_in = sum(r["rows_in"] for r in rows)
    m.triples = report.triples_out
    if tally is not None:
        # every mention the fused kernel finds links to a term
        m.mentions = m.linked = sum(v[5] for v in sums.values())
    m.finish().write(out_dir)
    return report


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Global triple-set view: bucket-local rows deduped on read (the
    same triple may be derived from several conversations). Read with
    the schema ``run_resumable`` writes, so no job infers it.

    The ``bucket=`` directories are listed on the driver, as
    ``run_resumable`` lists them: ``out_dir`` is driver-local by this
    module's contract. Spark would start a listing job once there are
    more of them than ``parallelPartitionDiscovery.threshold`` (32 by
    default; 32 buckets plus bucket -1 is already one more), so the
    threshold is raised for this read only."""
    with _scoped_conf(
        spark, "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
    ):
        triples = spark.read.schema("subj string, pred string, obj string, bucket int").parquet(
            os.path.join(out_dir, "triples")
        )
    return triples.select("subj", "pred", "obj").dropDuplicates(["subj", "pred", "obj"])

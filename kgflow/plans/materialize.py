"""Idempotent node/edge table materialization.

The reference relies on Neo4j ``MERGE`` for upsert-by-business-key
(``import_cosmic_mutant_census.cql:30-33`` ON CREATE vs ON MATCH) and on
destructive reloads (``import_hgnc.cql:6-10`` DETACH DELETE). Here the
sink is an abstract *upsert into a keyed table*:

* on Iceberg-enabled clusters this is ``MERGE INTO`` (one atomic
  commit, snapshot isolation) — ``upsert(iceberg_table=...)`` detects
  the runtime (``iceberg_available``) and routes there;
* the portable fallback (plain parquet, no Iceberg runtime) is one
  ``groupBy(keys)`` aggregate over existing ∪ batch, written to a new
  snapshot directory and atomically pointed to — never
  read-and-overwrite in place.

Both paths have the same observable semantics — at most one row per
key, each value column resolved by its merge rule, re-running a
``latest_wins`` or ``merge_props`` batch a no-op — because both read
one rule table, ``_merge_rules``: the fallback resolves existing ∪
batch with its aggregate (``_resolve``); the Iceberg path collapses the
batch with that same aggregate, then MERGEs with the table's SET list
(``merge_into_sql``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_POINTER = "_LATEST"
#: The fallback's batch order column: ``upsert`` stamps each call's rows
#: with a sequence number above every one the snapshot holds.
_SEQ = "_batch_seq"


def _read_pointer(path: str) -> dict | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The latest snapshot, read with the schema ``write_snapshot``
    recorded in the pointer — no job infers it from the parquet footers."""
    ptr = _read_pointer(path)
    if ptr is None:
        return None
    schema = T.StructType.fromJson(json.loads(ptr["schema"]))
    return spark.read.schema(schema).parquet(os.path.join(path, ptr["snapshot"]))


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath
    (``org.apache.iceberg.spark.SparkCatalog`` loadable). Detection
    only — configuring the catalog (spark.sql.catalog.<name>) is the
    deployment's job."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


#: Iceberg copies every Spark session conf with this prefix into the
#: snapshot summary of the commit it participates in (SparkWrite /
#: row-level writes read them via SparkUtil.extraSnapshotMetadata /
#: CommitMetadata) — the mechanism that lets commit metadata ride the
#: SAME atomic commit as the data, unlike a follow-up ALTER TABLE.
SNAPSHOT_PROP_PREFIX = "snapshot-property."


def snapshot_summary_props(
    spark: SparkSession, table: str, keys: list[str]
) -> dict | None:
    """The requested ``keys`` from the summary map of the most recent
    Iceberg snapshot that carries ALL of them (None when no snapshot
    does, or the table/metadata table is unreadable) — the Iceberg twin
    of ``read_pointer_meta``. A property attached via
    ``SNAPSHOT_PROP_PREFIX`` session confs exists exactly iff the commit
    it rode on exists — there is no window where the data landed but the
    guard did not."""
    # key-presence filter pushed into the SQL + LIMIT 1: a long-running
    # stream accumulates one snapshot per micro-batch, and collecting
    # EVERY summary to the driver per batch grows unboundedly (ADVICE
    # r6); the most recent guard-carrying snapshot is the only row the
    # guard ever reads, so ship exactly that one.
    presence = " AND ".join(
        f"element_at(summary, '{k}') IS NOT NULL" for k in keys
    )
    try:
        rows = (
            spark.sql(
                f"SELECT summary FROM {table}.snapshots "
                f"WHERE {presence} "
                "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
            )
            .collect()
        )
    except Exception:
        return None
    return {k: rows[0]["summary"][k] for k in keys} if rows else None


def _merge_rules(
    columns: list[str],
    keys: list[str],
    mode: str = "latest_wins",
    merge_cols: list[str] | None = None,
    exclude_update_cols: list[str] | None = None,
    add_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
) -> dict[str, str]:
    """The sink's merge policy: one rule per value column of ``columns``
    (keys and ``_batch_seq`` have none), in column order. ``_resolve``
    renders it as a DataFrame aggregate and ``merge_into_sql`` as the
    MERGE SET list, so each rule is stated here once:

    * ``first`` — first writer wins (``exclude_update_cols``; Neo4j
      ``ON CREATE SET``, e.g. first-seen lineage columns);
    * ``sum`` — values add (``add_cols``, ``mode="additive"``);
    * ``min`` — the least value wins (``min_cols``, ``mode="additive"``);
    * ``merge`` — the sorted-distinct union of comma-splits
      (``merge_cols``, ``mode="merge_props"``: the order-insensitive
      ``ON MATCH SET x = x + "," + row.x`` of david_gene_name.cql:40-42);
    * ``latest`` — the latest batch's value.

    A column named under several rules takes the first in that order.
    """
    listed = (
        ("first", exclude_update_cols),
        ("sum", add_cols if mode == "additive" else None),
        ("min", min_cols if mode == "additive" else None),
        ("merge", merge_cols if mode == "merge_props" else None),
    )
    return {
        c: next((rule for rule, cs in listed if c in (cs or ())), "latest")
        for c in columns
        if c not in keys and c != _SEQ
    }


def _resolve(
    rows: DataFrame,
    keys: list[str],
    rules: dict[str, str],
    mode: str,
    merge_cols: list[str],
    order_col: str = _SEQ,
) -> DataFrame:
    """``rules`` rendered as ONE ``groupBy(keys)`` aggregate over ``rows``:
    a row per key, ``order_col`` resolved to its maximum. Order ties
    break on the value (``struct(order, c)``), never on arrival order.

    Under ``latest_wins`` every ``latest`` column comes from one row:
    the highest ``order_col``, then the lowest ``xxhash64`` of the value
    columns — the row ``Window.partitionBy(keys).orderBy(desc(order),
    hash)`` keeps. Other modes resolve ``latest`` per column. The
    result keeps ``rows``' column layout, except under ``merge_props``:
    keys, ``merge_cols``, the other value columns, no order column."""
    order = F.col(order_col)
    render = {
        "first": lambda c: F.min_by(c, F.struct(order, F.col(c))),
        "sum": F.sum,
        "min": F.min,
        "merge": lambda c: F.array_join(
            F.array_sort(
                F.filter(
                    F.array_distinct(
                        F.flatten(
                            F.collect_list(F.split(F.coalesce(F.col(c), F.lit("")), ","))
                        )
                    ),
                    lambda x: x != "",
                )
            ),
            ",",
        ),
        "latest": lambda c: F.max_by(c, F.struct(order, F.col(c))),
    }
    row = [c for c, r in rules.items() if r == "latest"] if mode == "latest_wins" else []
    aggs = [render[r](c).alias(c) for c, r in rules.items() if c not in row]
    if row:
        tiebreak = F.xxhash64(*[F.col(c).cast("string") for c in rules])
        aggs.append(F.min_by(F.struct(*row), F.struct(-order, tiebreak)).alias("_row"))
    merged = rows.groupBy(*keys).agg(*aggs, F.max(order).alias(order_col))
    if mode == "merge_props":
        return merged.select(*keys, *merge_cols, *(c for c in rules if c not in merge_cols))
    return merged.select(*(F.col("_row")[c].alias(c) if c in row else c for c in rows.columns))


#: Each rule's ON MATCH update as MERGE SET text; ``first`` columns stay
#: out of the SET list, so the target keeps its value. ``sum`` skips a
#: NULL side, as the fallback's ``F.sum`` does.
_SET_SQL = {
    "sum": "coalesce(t.{c} + s.{c}, t.{c}, s.{c})",
    "min": "least(t.{c}, s.{c})",
    "merge": (
        "array_join(array_sort(filter(array_distinct(concat("
        "split(coalesce(t.{c}, ''), ','), split(coalesce(s.{c}, ''), ','))), "
        "x -> x != '')), ',')"
    ),
    "latest": "s.{c}",
}


def merge_into_sql(
    table: str,
    src_view: str,
    columns: list[str],
    keys: list[str],
    mode: str = "latest_wins",
    merge_cols: list[str] | None = None,
    exclude_update_cols: list[str] | None = None,
    add_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
) -> str:
    """MERGE INTO statement whose WHEN MATCHED SET list is
    ``_merge_rules``' table rendered through ``_SET_SQL``. ``src_view``
    must hold one row per key. Pure string builder so the SQL shape is
    unit-testable without the Iceberg jar."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    rules = _merge_rules(
        columns, keys, mode, merge_cols, exclude_update_cols, add_cols, min_cols
    )
    sets = [
        f"t.{c} = " + _SET_SQL[r].format(c=c) for c, r in rules.items() if r != "first"
    ]
    if all(r == "latest" for r in rules.values()):
        matched = "WHEN MATCHED THEN UPDATE SET * "
    elif sets:
        matched = "WHEN MATCHED THEN UPDATE SET " + ", ".join(sets) + " "
    else:
        # every value column first-writer: omit WHEN MATCHED entirely —
        # SQL MERGE allows an INSERT-only statement, matched rows are
        # left untouched (a self-assignment would pointlessly rewrite
        # rows and some engines reject updating ON-condition columns)
        matched = ""
    return (
        f"MERGE INTO {table} t USING {src_view} s ON {on} "
        f"{matched}WHEN NOT MATCHED THEN INSERT *"
    )


def _upsert_iceberg(
    df: DataFrame,
    table: str,
    keys: list[str],
    policy: dict,
    commit_props: dict | None = None,
) -> None:
    """One atomic commit (snapshot isolation) — the scale sink; the
    parquet snapshot dir is the portable stand-in. A fresh table is one
    CTAS of the batch (Iceberg's catalogs stage a CTAS, so the table and
    its rows land in one commit), an existing one takes one MERGE INTO.

    ``commit_props`` are attached to that commit's own snapshot summary
    (via ``SNAPSHOT_PROP_PREFIX`` session confs), so guard metadata and
    data commit ATOMICALLY — a crash can never leave merged data without
    its replay-guard record, nor a table without a guard."""
    spark = df.sparkSession
    # MERGE requires a unique source key set: collapse the batch with
    # the fallback's aggregate, every row at one order, so a batch that
    # repeats a key resolves as it does in the fallback
    rules = _merge_rules(df.columns, keys, **policy)
    batch = _resolve(
        df.withColumn(_SEQ, F.lit(0)), keys, rules, policy["mode"],
        policy["merge_cols"] or [],
    ).select(*df.columns)
    view = f"_kgflow_merge_src_{os.getpid()}"
    batch.createOrReplaceTempView(view)
    prop_keys = [SNAPSHOT_PROP_PREFIX + k for k in (commit_props or {})]
    try:
        for k, v in (commit_props or {}).items():
            spark.conf.set(SNAPSHOT_PROP_PREFIX + k, str(v))
        if spark.catalog.tableExists(table):
            spark.sql(merge_into_sql(table, view, batch.columns, keys, **policy))
        else:
            spark.sql(f"CREATE TABLE {table} USING iceberg AS SELECT * FROM {view}")
    finally:
        spark.catalog.dropTempView(view)
        for k in prop_keys:
            spark.conf.unset(k)


def upsert(
    df: DataFrame,
    path: str,
    keys: list[str],
    mode: str = "latest_wins",
    merge_cols: list[str] | None = None,
    iceberg_table: str | None = None,
    exclude_update_cols: list[str] | None = None,
    add_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    commit_props: dict | None = None,
) -> None:
    """MERGE-semantics upsert of ``df`` into the table keyed by ``keys``:
    one row per key, each value column resolved by ``_merge_rules``.

    * ``mode="latest_wins"``: the latest batch's row wins whole; rows
      of one batch that share a key break the tie on their content hash
      (no first-writer-wins nondeterminism — SURVEY.md §7.5.2).
    * ``mode="merge_props"``: the reference's ON MATCH aggregate-merge
      (``david_gene_name.cql:40-42``: ``SET g.GENE_NAME = g.GENE_NAME +
      "," + row.GENE_NAME``): each of ``merge_cols`` keeps the comma-join
      of the sorted distinct values seen across all batches
      (order-insensitive, so re-running a batch is a no-op); every other
      column takes its latest batch's value.
    * ``mode="additive"``: ``add_cols`` SUM across batches (``n_obs``
      support counts), ``min_cols`` keep the minimum, other value
      columns take the latest batch's value.
    * ``exclude_update_cols`` (any mode): first writer wins (first-seen
      lineage, e.g. ``build_triples_prov.first_seen_run``).

    ``iceberg_table``: when given AND the Iceberg runtime is on the
    classpath, the upsert is one atomic MERGE INTO against that table
    and ``path`` is untouched; ``commit_props`` are snapshot summary
    properties attached to that commit. Otherwise the portable fallback
    runs: one aggregate over the snapshot at ``path`` ∪ ``df``, written
    as a new snapshot — O(|snapshot|) per call, the rewrite the MERGE
    exists to avoid. Either way the same call sites work with or
    without the jar.
    """
    spark = df.sparkSession
    policy = dict(
        mode=mode, merge_cols=merge_cols, exclude_update_cols=exclude_update_cols,
        add_cols=add_cols, min_cols=min_cols,
    )
    if iceberg_table is not None and iceberg_available(spark):
        _upsert_iceberg(df, iceberg_table, keys, policy, commit_props)
        return
    existing = read_table(spark, path)
    # Monotonic batch sequence: next = max(existing) + 1, so two upserts
    # within one wall-clock millisecond (or across a clock regression)
    # still order by call order; the wall clock only seeds the first
    # write. The max() is a tiny agg over the keyed snapshot this
    # fallback sink rewrites anyway (Iceberg MERGE INTO needs no seq).
    seq = int(time.time() * 1000)
    if existing is not None and _SEQ in existing.columns:
        prev = existing.agg(F.max(_SEQ)).first()[0]
        if prev is not None:
            seq = max(seq, int(prev) + 1)
    rows = df.withColumn(_SEQ, F.lit(seq))
    if existing is not None:
        if _SEQ not in existing.columns:
            existing = existing.withColumn(_SEQ, F.lit(0))
        rows = existing.unionByName(rows, allowMissingColumns=True)
    rules = _merge_rules(rows.columns, keys, **policy)
    write_snapshot(_resolve(rows, keys, rules, mode, merge_cols or []), path)


def merge_props_resolve(
    batch: DataFrame,
    keys: list[str],
    merge_cols: list[str],
    order_col: str = _SEQ,
) -> DataFrame:
    """Pure resolution rule behind ``upsert(mode="merge_props")`` (C1):
    ``_merge_rules`` with ``mode="merge_props"`` over ``batch``, whose
    ``order_col`` orders its rows. One row per key: each of
    ``merge_cols`` holds the sorted distinct ',' -split values of the
    key's rows re-joined with ',' — the order-insensitive form of
    Neo4j's ``ON MATCH SET x = x + "," + row.x``
    (``david_gene_name.cql:40-42``); other value columns take the
    highest ``order_col``'s value (ties broken by max — deterministic).
    Exposed separately so the same rule is oracle-checkable without a
    filesystem sink.
    """
    rules = _merge_rules(
        [c for c in batch.columns if c != order_col], keys, "merge_props", merge_cols
    )
    return _resolve(batch, keys, rules, "merge_props", merge_cols, order_col)


def read_pointer_meta(path: str) -> dict | None:
    """Commit metadata recorded with the latest snapshot pointer (None if
    the table does not exist yet). The pointer flip is atomic, so meta is
    exactly as current as the data it was committed with — this is what
    makes ``merged_batch_id`` a reliable replay guard."""
    ptr = _read_pointer(path)
    return None if ptr is None else ptr.get("meta", {})


def write_snapshot(df: DataFrame, path: str, meta: dict | None = None) -> str:
    """Write a new immutable snapshot dir and flip the pointer (the
    parquet stand-in for an Iceberg snapshot commit). ``meta`` rides the
    pointer flip atomically — snapshot-level commit properties, same role
    as Iceberg's snapshot summary map. The pointer also records
    ``df.schema`` for ``read_table``."""
    os.makedirs(path, exist_ok=True)
    snap = f"snap-{int(time.time() * 1000)}-{os.getpid()}"
    out = os.path.join(path, snap)
    df.write.mode("overwrite").parquet(out)
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {"snapshot": snap, "ts": time.time(), "meta": meta or {}, "schema": df.schema.json()},
            fh,
        )
    os.replace(tmp, os.path.join(path, _POINTER))
    # retain only the two most recent snapshots (cheap time travel)
    snaps = sorted(d for d in os.listdir(path) if d.startswith("snap-"))
    for old in snaps[:-2]:
        shutil.rmtree(os.path.join(path, old), ignore_errors=True)
    return out

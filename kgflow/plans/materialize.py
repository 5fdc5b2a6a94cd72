"""Idempotent node/edge table materialization.

The reference relies on Neo4j ``MERGE`` for upsert-by-business-key
(``import_cosmic_mutant_census.cql:30-33`` ON CREATE vs ON MATCH) and on
destructive reloads (``import_hgnc.cql:6-10`` DETACH DELETE). Here the
sink is an abstract *upsert into a keyed table*:

* on Iceberg-enabled clusters this is ``MERGE INTO`` (one atomic
  commit, snapshot isolation) — ``upsert(iceberg_table=...)`` detects
  the runtime (``iceberg_available``) and routes there;
* the portable fallback (used in this sandbox, plain parquet) is
  union + window-dedup keep-latest, written to a new snapshot directory
  and atomically pointed to — never read-and-overwrite in place.

Both paths have the same observable semantics: at most one row per key,
latest batch wins, re-running the same batch is a no-op.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_POINTER = "_LATEST"


def _read_pointer(path: str) -> dict | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The latest snapshot, read with the schema ``write_snapshot``
    recorded in the pointer — no job infers it from the parquet footers.
    A pointer written without one falls back to inference."""
    ptr = _read_pointer(path)
    if ptr is None:
        return None
    reader = spark.read
    if "schema" in ptr:
        reader = reader.schema(T.StructType.fromJson(json.loads(ptr["schema"])))
    return reader.parquet(os.path.join(path, ptr["snapshot"]))


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


def read_table_props(spark: SparkSession, table: str) -> dict:
    """TBLPROPERTIES of ``table`` as a dict ({} if the table does not
    exist) — carrier for the streaming replay guard on the Iceberg
    path (the fallback's pointer-meta analogue)."""
    try:
        return {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }
    except Exception:
        return {}


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
    does, or the table/metadata table is unreadable). This is the
    commit-ATOMIC twin of ``read_table_props``: a property attached via
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
    for r in rows:
        summary = r["summary"] or {}
        if all(k in summary for k in keys):
            return {k: summary[k] for k in keys}
    return None


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
    """MERGE INTO statement with the same observable semantics as the
    parquet-snapshot fallback. Pure string builder so the SQL shape is
    unit-testable without the Iceberg jar.

    * ``latest_wins``: matched rows are overwritten by the batch row
      (the batch is pre-deduped to one row per key before the MERGE).
    * ``merge_props``: matched rows comma-merge ``merge_cols`` as
      sorted-distinct unions of both sides' comma-splits (the
      order-insensitive ON MATCH aggregate of david_gene_name.cql:40-42)
      and take the batch value for every other column.
    * ``additive``: matched rows SUM ``add_cols`` (``t.c = t.c + s.c``
      — the streaming provenance merge's support counts), take
      ``least`` for ``min_cols`` (stable dimension facts like
      ``family``), and the batch value for every other column. This is
      the O(|batch|) cluster form of the provenance snapshot merge:
      each micro-batch touches only its own keys instead of rewriting
      the whole snapshot.
    * ``exclude_update_cols``: columns omitted from the WHEN MATCHED
      update list — the target keeps its original value. This is how
      first-seen lineage columns (``first_seen_run``) survive upserts:
      they are INSERTed for new keys but never overwritten on match.
    """
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    excl = set(exclude_update_cols or [])
    value_cols = [c for c in columns if c not in keys and c not in excl]
    if mode == "merge_props":
        mc = set(merge_cols or [])
        sets = []
        for c in value_cols:
            if c in mc:
                sets.append(
                    f"t.{c} = array_join(array_sort(filter(array_distinct("
                    f"concat(split(coalesce(t.{c}, ''), ','), "
                    f"split(coalesce(s.{c}, ''), ','))), x -> x != '')), ',')"
                )
            else:
                sets.append(f"t.{c} = s.{c}")
    elif mode == "additive":
        ac = set(add_cols or [])
        mnc = set(min_cols or [])
        sets = []
        for c in value_cols:
            if c in ac:
                sets.append(f"t.{c} = t.{c} + s.{c}")
            elif c in mnc:
                sets.append(f"t.{c} = least(t.{c}, s.{c})")
            else:
                sets.append(f"t.{c} = s.{c}")
    elif excl:
        sets = [f"t.{c} = s.{c}" for c in value_cols]
    else:
        sets = None
    if sets is None:
        matched = "WHEN MATCHED THEN UPDATE SET * "
    elif sets:
        matched = "WHEN MATCHED THEN UPDATE SET " + ", ".join(sets) + " "
    else:
        # every value column excluded: omit WHEN MATCHED entirely —
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
    mode: str,
    merge_cols: list[str] | None,
    exclude_update_cols: list[str] | None = None,
    add_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    commit_props: dict | None = None,
) -> None:
    """One atomic MERGE INTO commit (snapshot isolation) — the scale
    sink; the parquet snapshot dir is the sandbox stand-in.

    ``commit_props`` are attached to the MERGE's own snapshot summary
    (via ``SNAPSHOT_PROP_PREFIX`` session confs), so guard metadata and
    data commit ATOMICALLY — a crash can never leave merged data without
    its replay-guard record. When commit_props are given and the table
    does not exist yet, the first batch is routed through CREATE-empty +
    MERGE (instead of CTAS) so even batch 0's guard rides a MERGE
    commit."""
    spark = df.sparkSession
    # MERGE requires a unique source key set: collapse the batch first.
    if mode == "additive":
        # additive collapse: sums add within the batch, mins/firsts
        # resolve deterministically — so a batch that emits a key twice
        # contributes the same totals as two separate batches would
        value_cols = [c for c in df.columns if c not in keys]
        ac, mnc = set(add_cols or []), set(min_cols or [])
        aggs = []
        for c in value_cols:
            if c in ac:
                aggs.append(F.sum(c).alias(c))
            elif c in mnc or c in set(exclude_update_cols or []):
                aggs.append(F.min(c).alias(c))
            else:
                aggs.append(F.max(c).alias(c))
        batch = df.groupBy(*keys).agg(*aggs).select(*df.columns)
    else:
        # deterministic content tiebreak, same rule as the fallback
        value_cols = [c for c in df.columns if c not in keys]
        tiebreak = (
            F.xxhash64(*[F.col(c).cast("string") for c in value_cols])
            if value_cols
            else F.lit(0)
        )
        w = Window.partitionBy(*keys).orderBy(tiebreak)
        batch = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    view = f"_kgflow_merge_src_{os.getpid()}"
    batch.createOrReplaceTempView(view)
    prop_keys = [SNAPSHOT_PROP_PREFIX + k for k in (commit_props or {})]
    try:
        if not spark.catalog.tableExists(table):
            if commit_props:
                # empty CREATE first, with NO guard confs set: were the
                # confs live here, Iceberg would stamp the guard into
                # the empty CTAS snapshot, and a crash between this
                # CREATE and the MERGE would leave a snapshot claiming
                # batch 0 merged — silent data loss on restart (ADVICE
                # r6, high). The guard confs go live only for the MERGE
                # below, the commit that actually carries the rows.
                spark.sql(
                    f"CREATE TABLE {table} USING iceberg "
                    f"AS SELECT * FROM {view} WHERE 1 = 0"
                )
            else:
                spark.sql(
                    f"CREATE TABLE {table} USING iceberg AS SELECT * FROM {view}"
                )
                return
        for k, v in (commit_props or {}).items():
            spark.conf.set(SNAPSHOT_PROP_PREFIX + k, str(v))
        spark.sql(
            merge_into_sql(
                table, view, batch.columns, keys, mode, merge_cols,
                exclude_update_cols, add_cols, min_cols,
            )
        )
    finally:
        spark.catalog.dropTempView(view)
        for k in prop_keys:
            spark.conf.unset(k)


def upsert(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str = "_batch_seq",
    mode: str = "latest_wins",
    merge_cols: list[str] | None = None,
    iceberg_table: str | None = None,
    exclude_update_cols: list[str] | None = None,
    add_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    meta: dict | None = None,
    commit_props: dict | None = None,
) -> None:
    """MERGE-semantics upsert: one row per key, highest ``order_col`` wins;
    ties broken deterministically by the remaining columns' hash (no
    first-writer-wins nondeterminism — SURVEY.md §7.5.2).

    ``mode="merge_props"`` reproduces the reference's ON MATCH
    aggregate-merge (``david_gene_name.cql:40-42``: ``SET g.GENE_NAME =
    g.GENE_NAME + "," + row.GENE_NAME``): for each column in
    ``merge_cols`` the surviving value is the comma-join of the sorted
    distinct values seen across all batches (order-insensitive — the
    deterministic replacement for the reference's arrival-order concat,
    and what makes re-running the same batch a no-op); the remaining
    columns keep latest-batch-wins semantics.

    ``iceberg_table``: when given AND the Iceberg runtime is on the
    classpath, the upsert is one atomic MERGE INTO against that table
    (no batch-seq bookkeeping needed — commit order is the order) and
    ``path`` is untouched; otherwise the portable snapshot-dir fallback
    below runs, so the same call sites work with or without the jar.

    ``exclude_update_cols``: first-writer-wins columns (first-seen
    lineage, e.g. ``build_triples_prov.first_seen_run``). On the Iceberg
    path they are omitted from the WHEN MATCHED update list; the
    fallback resolves them with ``min_by(order_col)`` — earliest batch
    wins — so both sinks observe the same rule.

    ``mode="additive"``: ``add_cols`` SUM across batches (``n_obs``
    support counts), ``min_cols`` keep the minimum, other value columns
    latest-batch-wins. On Iceberg this is an O(|batch|)-touch MERGE;
    the fallback re-aggregates existing ∪ batch (the snapshot rewrite
    the Iceberg path exists to avoid).

    ``meta`` rides the fallback's snapshot pointer flip atomically;
    ``commit_props`` is its Iceberg twin — snapshot summary properties
    attached to the MERGE's own commit (each path ignores the other's
    carrier).
    """
    spark = df.sparkSession
    if iceberg_table is not None and iceberg_available(spark):
        _upsert_iceberg(
            df, iceberg_table, keys, mode, merge_cols, exclude_update_cols,
            add_cols, min_cols, commit_props,
        )
        return
    existing = read_table(spark, path)
    # Monotonic batch sequence: next = max(existing) + 1, so two upserts
    # within one wall-clock millisecond (or across a clock regression)
    # still order by call order; the wall clock only seeds the first
    # write. The max() is a tiny agg over the keyed snapshot this
    # fallback sink rewrites anyway (Iceberg MERGE INTO needs no seq).
    seq = int(time.time() * 1000)
    if existing is not None and order_col in existing.columns:
        prev = existing.agg(F.max(order_col)).first()[0]
        if prev is not None:
            seq = max(seq, int(prev) + 1)
    batch = df
    if order_col not in batch.columns:
        batch = batch.withColumn(order_col, F.lit(seq))
    if existing is not None:
        if order_col not in existing.columns:
            existing = existing.withColumn(order_col, F.lit(0))
        batch = existing.unionByName(batch, allowMissingColumns=True)
    excl = [
        c
        for c in (exclude_update_cols or [])
        if c in batch.columns and c not in keys and c != order_col
    ]

    def _keep_first(merged: DataFrame) -> DataFrame:
        # first-writer-wins columns: earliest batch's value, deterministic
        # tiebreak by the value itself; joined back on the same keys the
        # merge just shuffled on. The join is NULL-SAFE — plain key
        # equality would silently drop every row with a NULL key value
        # (in-contract: merge_into_sql uses `t.k <=> s.k` for the same
        # reason, and the window merge above handles NULL keys fine).
        firsts = batch.groupBy(*keys).agg(
            *[
                F.min_by(F.col(c), F.struct(F.col(order_col), F.col(c))).alias(c)
                for c in excl
            ]
        )
        cols = merged.columns
        lhs = merged.drop(*excl)
        cond = None
        for k in keys:
            c = lhs[k].eqNullSafe(firsts[k])
            cond = c if cond is None else cond & c
        return (
            lhs.join(firsts, cond)
            .drop(*[firsts[k] for k in keys])
            .select(*cols)
        )

    if mode == "merge_props":
        merged = merge_props_resolve(batch, keys, merge_cols or [], order_col)
        write_snapshot(_keep_first(merged) if excl else merged, path, meta=meta)
        return
    if mode == "additive":
        ac, mnc = set(add_cols or []), set(min_cols or [])
        value_cols = [c for c in batch.columns if c not in keys and c != order_col]
        aggs = []
        for c in value_cols:
            if c in excl:
                continue  # resolved by _keep_first below
            if c in ac:
                aggs.append(F.sum(c).alias(c))
            elif c in mnc:
                aggs.append(F.min(c).alias(c))
            else:
                aggs.append(
                    F.max_by(F.col(c), F.struct(F.col(order_col), F.col(c))).alias(c)
                )
        aggs.append(F.max(order_col).alias(order_col))
        merged = batch.groupBy(*keys).agg(*aggs)
        if excl:
            # first-writer-wins columns: earliest batch's value, null-safe
            # join back on the keys (same contract as _keep_first)
            firsts = batch.groupBy(*keys).agg(
                *[
                    F.min_by(F.col(c), F.struct(F.col(order_col), F.col(c))).alias(c)
                    for c in excl
                ]
            )
            cond = None
            for k in keys:
                c = merged[k].eqNullSafe(firsts[k])
                cond = c if cond is None else cond & c
            merged = (
                merged.join(firsts, cond)
                .drop(*[firsts[k] for k in keys])
            )
        merged = merged.select(*batch.columns)
        write_snapshot(merged, path, meta=meta)
        return
    value_cols = [c for c in batch.columns if c not in keys and c != order_col]
    content_tiebreak = (
        F.xxhash64(*[F.col(c).cast("string") for c in value_cols])
        if value_cols
        else F.lit(0)  # key-only table: rows are identical beyond the key
    )
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), content_tiebreak)
    merged = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    write_snapshot(_keep_first(merged) if excl else merged, path, meta=meta)


def merge_props_resolve(
    batch: DataFrame,
    keys: list[str],
    merge_cols: list[str],
    order_col: str = "_batch_seq",
) -> DataFrame:
    """Pure resolution rule behind ``upsert(mode="merge_props")`` (C1).

    One row per key. ``merge_cols`` values are split on ',', flattened
    across all rows of the key group, deduped, sorted, re-joined with
    ',' — the order-insensitive form of Neo4j's ``ON MATCH SET x = x +
    "," + row.x`` (``david_gene_name.cql:40-42``). Other value columns
    take the latest batch's value (ties broken by max — deterministic).
    Exposed separately so the same rule is oracle-checkable without a
    filesystem sink.
    """
    other = [c for c in batch.columns if c not in keys and c not in merge_cols and c != order_col]
    aggs = [
        F.array_join(
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
        ).alias(c)
        for c in merge_cols
    ]
    aggs += [F.max_by(F.col(c), F.struct(F.col(order_col), F.col(c))).alias(c) for c in other]
    out = batch.groupBy(*keys).agg(*aggs)
    return out.select(*keys, *merge_cols, *other)


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

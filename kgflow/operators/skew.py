"""Explicit skew handling: salted aggregation.

The synthetic workload is deliberately Zipf-skewed (hot ontology terms,
long-tail conversation lengths — BASELINE.json north_star: "skew
salting on hot entities"). Three layers of defense, cheapest first:

1. **algebraic aggregates** (count/min/max/sum) — map-side partial
   aggregation already collapses hot keys before the shuffle; nothing
   to do.
2. **AQE skew-join splitting** — on by default in `kgflow.session`.
3. **explicit salting** (this module) — for non-algebraic aggregates
   (collect_list/set, exact distinct counts per hot key): append
   ``pmod(hash(row), S)`` to the key, aggregate per (key, salt), then
   reduce the S partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts) from the row content
    (xxhash64 of ``cols`` or all columns) — no rand(), so retries and
    resumes see identical salts."""
    basis = [F.col(c) for c in (cols or df.columns)]
    return df.withColumn("_salt", F.pmod(F.xxhash64(*basis), F.lit(n_salts)).cast("int"))


def salted_collect_set(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """collect_set per key without a hot-key straggler: two-level
    aggregation — per (key, salt) partials, then flatten+distinct the
    S partial arrays per key."""
    salted = with_salt(df, n_salts, [value])
    partial = salted.groupBy(key, "_salt").agg(
        F.collect_set(value).alias("_part")
    )
    return partial.groupBy(key).agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_part")))
        ).alias(f"{value}_set")
    )


def salted_count_distinct(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """Exact count(DISTINCT value) per key, skew-safe: dedup within
    (key, salt) first (hash partial), then count per key."""
    salted = with_salt(df, n_salts, [value])
    deduped = salted.dropDuplicates([key, "_salt", value])
    return deduped.groupBy(key).agg(F.count(F.lit(1)).alias(f"n_{value}"))


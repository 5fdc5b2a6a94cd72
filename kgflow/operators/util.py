"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """``df`` spread across the cluster's cores by one round-robin
    ``repartition(defaultParallelism)``, before CPU-heavy narrow work.

    Why: small parquet inputs (every testdata table, the benchmark
    inputs) arrive as ONE split, so without an exchange the
    tokenize/shingle/hash work after the scan runs on one task.

    The exchange is unconditional. An explicit ``repartition(n)`` is an
    exchange AQE never removes, so input that is already spread pays one
    shuffle of its rows here; skipping it is left until a benchmark
    workload reads multi-split input and shows the gain. The input's
    split count is no safe signal to skip on: it counts byte-range file
    splits, not splits that hold rows (a parquet row group is read only
    by the split holding its midpoint, so one large single-row-group file
    plans many splits of which one carries every row), and a shuffled
    input's count is only known by running its stages.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def gated_broadcast(df: DataFrame, threshold_rows: int | None) -> DataFrame:
    """Broadcast-hint ``df`` only when it is MEASURED to be small.

    A forced ``F.broadcast`` on a mapping whose size is a function of the
    data (e.g. a dedup cluster mapping — one row per document with a
    verified near-dup, 30-50%% of a template-heavy corpus) is a
    deterministic driver/executor OOM at scale: Spark's broadcast limit
    is 8 GB and the driver must hold the build side. This gate counts at
    most ``threshold_rows + 1`` rows (a bounded ``limit().count()``) and
    applies the hint only under the threshold; above it (or with
    ``threshold_rows=None``) the frame is returned unhinted and AQE picks
    the join strategy from runtime sizes.

    The frame is persisted BEFORE the gating count, so the count job
    computes the plan once and the downstream join reuses the cached
    rows instead of recomputing the whole input plan a second time —
    callers hand this gate unmaterialized aggregate and join plans (LM
    fit tables, retraction deltas), where an eager ``limit().count()``
    on the raw plan would otherwise fire a redundant full pass per call.
    MEMORY_AND_DISK, so an above-threshold frame degrades to one disk
    spill rather than an OOM; Spark's context cleaner drops the cache
    when the frame is garbage-collected.
    """
    if threshold_rows is None:
        return df
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = df.limit(threshold_rows + 1).count()
    return F.broadcast(df) if n <= threshold_rows else df

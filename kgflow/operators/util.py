"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


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


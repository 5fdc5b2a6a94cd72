"""SparkSession factory tuned for the KG-construction workload.

Design notes (100 TB target, tested on local[*]):

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting
  for the hot-entity joins (reference analogue: the super-node ontology
  terms that the Cypher scripts serialized MERGEs around,
  ``cql/import/import_ppi.cql:23`` ``parallel: false``).
* Arrow on — every Python hop (mention extraction, hash embedding) moves
  columnar batches, mirroring the reference's batched encode
  (``neo4j_pubmed_batch_embeddings_processor.py:382-452``).
* ``spark.sql.shuffle.partitions`` defaults to a small multiple of cores
  locally; on a real cluster the caller passes ``shuffle_partitions``
  sized to ~128 MB of shuffle data per partition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The sandbox's conda python (first on PATH) lacks pyspark; pin the pyenv
# interpreter for driver and workers before the JVM launches.
_PYBIN = "/root/.pyenv/shims/python3"
if os.path.exists(_PYBIN):
    os.environ.setdefault("PYSPARK_PYTHON", _PYBIN)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", _PYBIN)


def get_spark(
    app_name: str = "kgflow",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver convention) or all cores. Under spark-submit pass
    ``master=""`` — the builder then never calls ``.master()`` and the
    cluster manager chosen by spark-submit is preserved (this is what
    ``tools/kg_job.py`` does).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8) if cpus else 32
        except ValueError:
            shuffle_partitions = 32

    # Scan-split sizing (guide §6): the sandbox testdata is a handful
    # of single-file parquet tables (one 131 MB lineitem, the rest
    # ≤16 MB), so the 128 MB default packs every scan into 1-2 tasks
    # and leaves a 32-core box idle through every scan stage. 16 MB
    # splits let the row-group midpoint assignment spread multi-row-
    # group files (lineitem: 6) and stop the 4 MB open-cost packing
    # from fusing the 32 transcript bucket files into 2 splits. On a
    # real deployment with 100 MB-1 GB files, RAISE this back via
    # KGFLOW_MAX_PARTITION_BYTES (512m-1g per guide §6) — fewer, larger
    # map tasks feeding each shuffle.
    max_split = os.environ.get("KGFLOW_MAX_PARTITION_BYTES", "16m")

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGFLOW_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


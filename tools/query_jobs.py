"""Per-query Spark job audit: for each declared query, the jobs and tasks
Spark ran to build its DataFrame and then to run one
``write.format("noop")`` of it, read from the application status store
(``perfbench.trace.StatusReader``, which adds no job), then a total.

Usage: python3 tools/query_jobs.py [sf_dir] [query ...]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``, as in ``bench.py``. One
tab-separated line per query: name, build jobs, build tasks, write jobs,
write tasks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from kgflow.session import get_spark  # noqa: E402
from perfbench.trace import StatusReader  # noqa: E402


def _take(status: StatusReader) -> tuple[int, int]:
    """(jobs, completed tasks) since the last read."""
    jobs, stages = status.read()
    return jobs, sum(s.numCompleteTasks() for s in stages)


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    only = set(argv[1:])
    spark = get_spark("query-jobs")
    status = StatusReader(spark)
    total = [0, 0, 0, 0]
    print("query\tbuild_jobs\tbuild_tasks\twrite_jobs\twrite_tasks")
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        _take(status)
        df = fn(spark, sf_dir)
        build = _take(status)
        df.write.format("noop").mode("overwrite").save()
        row = (*build, *_take(status))
        total = [a + b for a, b in zip(total, row)]
        print(name, *row, sep="\t", flush=True)
    print("TOTAL", *total, sep="\t")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

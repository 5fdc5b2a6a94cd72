"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink and optionally dumps .explain("formatted").

Does NOT replace bench.py (which is the frozen driver contract); this
is the measurement tool for optimization work.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
  python bench_extra.py --plans plans/r07 --suffix _before q1 q2
  python bench_extra.py --trials 2 all-extras | all-headline | all
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bench import EXTRAS, HEADLINE  # noqa: E402
from kgflow.session import get_spark  # noqa: E402


def main() -> None:
    argv = list(sys.argv[1:])
    trials = 1
    plans_dir = None
    suffix = ""
    if "--trials" in argv:
        i = argv.index("--trials")
        trials = int(argv[i + 1])
        del argv[i : i + 2]
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_dir = argv[i + 1]
        del argv[i : i + 2]
    if "--suffix" in argv:
        i = argv.index("--suffix")
        suffix = argv[i + 1]
        del argv[i : i + 2]
    names: list[str] = []
    for a in argv:
        if a == "all-headline":
            names += HEADLINE
        elif a == "all-extras":
            names += EXTRAS
        elif a == "all":
            names += HEADLINE + EXTRAS
        else:
            names.append(a)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("kgflow-bench-extra")
    # same warmup as bench.py
    spark.range(1_000_000).agg(F.sum("id")).collect()
    entrymod._t(spark, sf_dir, "lineitem").limit(10).collect()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    qs = entrymod.queries()
    raw: dict[str, list[float]] = {n: [] for n in names}
    for t in range(trials):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            # time construction + write, exactly like bench.py (some
            # queries do driver-side work while building the frame)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            raw[name].append(round(time.time() - t0, 3))
            if plans_dir and t == 0:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            spark.sparkContext.setJobDescription(None)
    out = {
        "sf_dir": sf_dir,
        "trials": trials,
        "best": {n: min(v) for n, v in raw.items()},
        "samples": raw,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

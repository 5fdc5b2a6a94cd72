import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("PYSPARK_PYTHON", "/root/.pyenv/shims/python3")
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", "/root/.pyenv/shims/python3")


@pytest.fixture(scope="session")
def spark():
    from kgflow.session import get_spark

    s = get_spark("kgflow-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def lexicon_pdf():
    from kgflow import synth

    return synth.make_lexicon(60, seed=7)


@pytest.fixture(scope="session")
def lexicon(spark, lexicon_pdf):
    from kgflow import synth

    return synth.lexicon_dataframes(spark, 60, seed=7)


@pytest.fixture(scope="session")
def transcripts(spark, lexicon_pdf):
    from kgflow import synth

    terms_pdf, _ = lexicon_pdf
    df = synth.transcripts(spark, n_turns=500, n_convs=30, lexicon_pdf=terms_pdf, seed=42)
    df = df.cache()
    df.count()
    return df


def _exchange_count(plan) -> int:
    """Exchange nodes of a physical plan: a DataFrame (run first, then
    its final adaptive plan is read) or a plan string as the SQL status
    store records it. Only the final (current) adaptive plan counts,
    and the plans of cached frames it scans are left out (an
    InMemoryRelation renders the plan that built the cache inline)."""
    if not isinstance(plan, str):
        plan.collect()
        plan = plan._jdf.queryExecution().executedPlan().executedPlan().toString()
    n, skip_depth = 0, None
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if node.startswith("== Initial Plan =="):
            break
        if "InMemoryRelation" in node:
            skip_depth = depth
        n += node.startswith("Exchange")
    return n


@pytest.fixture(scope="session")
def exchanges():
    return _exchange_count

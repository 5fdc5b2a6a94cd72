"""Salted-aggregation/join equivalence on a deliberately hot-keyed input."""

from pyspark.sql import functions as F

from kgflow.operators import skew


def _hot_df(spark):
    # one key holds 90% of rows (Zipf-ish hot entity)
    rows = [("hot", f"v{i % 57}") for i in range(900)] + [
        (f"k{i}", f"v{i}") for i in range(100)
    ]
    return spark.createDataFrame(rows, "key string, value string")


def test_salted_collect_set_matches_plain(spark):
    df = _hot_df(spark)
    plain = {
        r.key: sorted(r.s)
        for r in df.groupBy("key").agg(F.collect_set("value").alias("s")).collect()
    }
    salted = {
        r.key: list(r.value_set)
        for r in skew.salted_collect_set(df, "key", "value").collect()
    }
    assert salted == plain


def test_salted_count_distinct_matches_plain(spark):
    df = _hot_df(spark)
    plain = {
        r.key: r.n
        for r in df.groupBy("key").agg(F.countDistinct("value").alias("n")).collect()
    }
    salted = {r.key: r.n_value for r in skew.salted_count_distinct(df, "key", "value").collect()}
    assert salted == plain
    assert salted["hot"] == 57


def test_salt_is_deterministic(spark):
    df = _hot_df(spark)
    a = {tuple(r) for r in skew.with_salt(df, 8).collect()}
    b = {tuple(r) for r in skew.with_salt(df, 8).collect()}
    assert a == b

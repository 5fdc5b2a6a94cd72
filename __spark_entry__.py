"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-materialization query on sf0.001.
``queries()``   — one named query per implemented operator family from
                  SURVEY.md §2 (+ training-data-pipeline operators).
``oracle_sql()``— the DuckDB-equivalent ANSI SQL for each query.

Column names are aliased identically on both sides; aggregates are cast
explicitly (DuckDB sums promote to HUGEINT otherwise); hashes are md5
(portable across engines); float scores fold left-to-right in float64
and round to 4 dp on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kgflow.functions import text as tx  # noqa: E402
from kgflow.operators import dedup, sessionize, vector  # noqa: E402
from kgflow.operators.util import spread  # noqa: E402
from kgflow.schemas import TESTDATA  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(TESTDATA[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: KG materialization over the star schema (SURVEY.md §3.3 shape)
# ---------------------------------------------------------------------------


# (s_pre, pred, o_pre) per edge family — the family id is a BIJECTION
# onto this triple, so dedup on (fam, s_key, o_key) equals dedup on the
# full 5-tuple while the exchange carries 1+8+8 bytes/row instead of
# three materialized literal strings (guide §2.3: narrower types,
# project before the exchange).
_STAR_FAMS: list[tuple[str, str, str]] = [
    ("cust", "PLACED", "order"),
    ("order", "CONTAINS", "part"),
    ("order", "SUPPLIED_BY", "supplier"),
    ("cust", "LOCATED_IN", "nation"),
    ("supplier", "LOCATED_IN", "nation"),
    ("nation", "PART_OF", "region"),
]


def _fam_case(which: int):
    """fam tinyint → its s_pre / pred / o_pre string (literal decode)."""
    c = F.lit(_STAR_FAMS[0][which])
    expr = F.when(F.col("fam") == 0, c)
    for i in range(1, len(_STAR_FAMS)):
        expr = expr.when(F.col("fam") == i, F.lit(_STAR_FAMS[i][which]))
    return expr


def _star_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fam tinyint, s_key long, o_key long), one row per FK reference of
    the star schema — the six edge families of ``_STAR_FAMS``, in that
    order, before any dedup."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    def fam(df, fid, s_key, o_key):
        return df.select(
            F.lit(fid).cast("tinyint").alias("fam"),
            F.col(s_key).cast("long").alias("s_key"),
            F.col(o_key).cast("long").alias("o_key"),
        )

    return (
        fam(orders, 0, "o_custkey", "o_orderkey")
        .unionByName(fam(lineitem, 1, "l_orderkey", "l_partkey"))
        .unionByName(fam(lineitem, 2, "l_orderkey", "l_suppkey"))
        .unionByName(fam(customer, 3, "c_custkey", "c_nationkey"))
        .unionByName(fam(supplier, 4, "s_suppkey", "s_nationkey"))
        .unionByName(fam(nation, 5, "n_nationkey", "n_regionkey"))
    )


def _star_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped ``_star_raw`` — the compact-key core of the star KG.
    Shuffle COMPACT KEYS, build URI strings only after the exchange:
    the testdata files are single-row-group parquet, so each scan is
    one task no matter what maxPartitionBytes says — keeping the
    pre-shuffle side to a tinyint + two longs moves the string concat
    onto the post-shuffle side (full parallelism) and shrinks the
    exchange from ~40-byte literal-string rows to 17-byte keys. Dedup on (fam, s_key, o_key) equals dedup on the full
    (s_pre, s_key, pred, o_pre, o_key) tuple because fam ↔
    (s_pre, pred, o_pre) is a bijection and the keys are numeric."""
    return _star_raw(spark, sf_dir).dropDuplicates(["fam", "s_key", "o_key"])


def star_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj) edge families from the relational star schema —
    the testdata analogue of the citation-graph build
    (neo4j_citation_relationship_builder.py:107-163): FK → edge, MERGE →
    dropDuplicates. URI strings are decoded from the compact family
    code only AFTER the dedup exchange."""
    return _star_keys(spark, sf_dir).select(
        F.concat(_fam_case(0), F.lit(":"), F.col("s_key").cast("string")).alias("subj"),
        _fam_case(1).alias("pred"),
        F.concat(_fam_case(2), F.lit(":"), F.col("o_key").cast("string")).alias("obj"),
    )


_STAR_TRIPLES_SQL = """
WITH t AS (
  SELECT DISTINCT 'cust:' || o_custkey AS subj, 'PLACED' AS pred,
         'order:' || o_orderkey AS obj FROM orders
  UNION
  SELECT DISTINCT 'order:' || l_orderkey, 'CONTAINS', 'part:' || l_partkey FROM lineitem
  UNION
  SELECT DISTINCT 'order:' || l_orderkey, 'SUPPLIED_BY', 'supplier:' || l_suppkey FROM lineitem
  UNION
  SELECT DISTINCT 'cust:' || c_custkey, 'LOCATED_IN', 'nation:' || c_nationkey FROM customer
  UNION
  SELECT DISTINCT 'supplier:' || s_suppkey, 'LOCATED_IN', 'nation:' || s_nationkey FROM supplier
  UNION
  SELECT DISTINCT 'nation:' || n_nationkey, 'PART_OF', 'region:' || n_regionkey FROM nation
)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: materialize the star KG, count per predicate."""
    triples = star_triples(spark, "/root/testdata/sf0.001")
    return triples.groupBy("pred").agg(F.count(F.lit(1)).alias("n_triples")).orderBy("pred")


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2.2–2.7)
# ---------------------------------------------------------------------------


def _dsum(col, scale: int = 2):
    """Order-independent money sum: DECIMAL accumulate (exact, unlike
    double whose value depends on partition summation order), then round
    and surface as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(28,6)")), scale).cast("double")


def q_pricing_summary(spark, sf):
    """A1/A4/A5: grouped sums/avgs with predicate (TPC-H Q1 shape)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_region_revenue(spark, sf):
    """J1: fact ⨝ broadcast dims chain (customer→nation→region)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            _dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_left_join_counts(spark, sf):
    """J2: optional-match semantics — customers keep row with 0 orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_anti_join(spark, sf):
    """J7: customers with no orders (NOT exists)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_semi_join(spark, sf):
    """J8: existence probe — parts that were actually shipped."""
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .select("p_partkey", "p_name")
    )


def q_two_hop(spark, sf):
    """J9: bridge-entity chain supplier→nation→region."""
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


def q_symmetric_pairs(spark, sf):
    """J6/C5: same-nation supplier pairs, canonical (least,greatest)."""
    s = _t(spark, sf, "supplier")
    a = s.select(F.col("s_nationkey").alias("nk"), F.col("s_suppkey").alias("a"))
    b = s.select(F.col("s_nationkey").alias("nk"), F.col("s_suppkey").alias("b"))
    return (
        a.join(b, "nk")
        .filter(F.col("a") < F.col("b"))
        .select("nk", "a", "b")
        .dropDuplicates()
    )


def q_explode_wordcount(spark, sf):
    """J5/A6/P3: split→explode→count; top-20 words (deterministic ties)."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(tx.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


def q_count_distinct(spark, sf):
    """A2."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_conditional_agg(spark, sf):
    """A5: sum(CASE WHEN … THEN 1 ELSE 0 END)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
    )


def q_having(spark, sf):
    """A9: post-aggregation threshold filter."""
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


def q_collect_sorted(spark, sf):
    """A6/SO3: set-aggregation with deterministic ordering."""
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def q_topk_orders(spark, sf):
    """W1: global top-k with deterministic tie-break."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .limit(15)
    )


def q_topk_per_group(spark, sf):
    """W2: per-group top-k via window row_number."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey")
    )


def q_dedup_latest(spark, sf):
    """C3: duplicate-group resolution — latest event per user."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_lead_next_event(spark, sf):
    """W5/W6-adjacent: lead() for successor linkage (NEXT_TURN shape)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_event_id", F.lead("event_id").over(w))
        .filter(F.col("next_event_id").isNotNull())
        .select("user_id", "event_id", "next_event_id")
    )


def q_pagination(spark, sf):
    """W3: keyset pagination ORDER BY key OFFSET/LIMIT."""
    c = _t(spark, sf, "customer")
    return (
        c.orderBy("c_custkey")
        .select("c_custkey", "c_name")
        .offset(20)
        .limit(10)
    )


def q_union_distinct(spark, sf):
    """SO1: union + distinct of key sets."""
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.union(b).distinct()


def q_except(spark, sf):
    """SO2: set difference — customers with orders but none urgent."""
    o = _t(spark, sf, "orders")
    all_c = o.select("o_custkey").distinct()
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    # subtract == EXCEPT (set) semantics; exceptAll would be bag-difference
    return all_c.subtract(urgent)


def q_string_hygiene(spark, sf):
    """P2/P5/P7/P8: trim/lower/regexp_replace/concat key hygiene."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower(F.trim("p_name")).alias("name_clean"),
        F.regexp_replace("p_type", "[^A-Z]", "").alias("type_caps"),
        F.concat(F.lit("part://"), F.col("p_brand"), F.lit("/"), F.col("p_partkey").cast("string")).alias("part_uri"),
        F.substring("p_name", 1, 10).alias("name_trunc"),
    )


def q_date_parts(spark, sf):
    """§2.7 date: year/month extraction + aggregation."""
    o = _t(spark, sf, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            "o_totalprice",
        )
        .groupBy("yr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice").alias("revenue"),
        )
    )


def q_case_decode(spark, sf):
    """P9: CASE-based code→label enrichment."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "P", "pending")
        .otherwise("unknown")
        .alias("status_label"),
    )


def q_json_extract(spark, sf):
    """§2.7 json: parse the props JSON column (spread before the 1M
    get_json_object parses)."""
    e = spread(_t(spark, sf, "events").select("event_type", "props"))
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_cast_guard(spark, sf):
    """P3/P11/P16 casts with null guards + empty→null."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars_d"),
        F.when(F.trim("lang") == "", None).otherwise(F.col("lang")).alias("lang_norm"),
        F.substring("text", 1, 50).alias("head"),
    )


def q_kg_star_triples(spark, sf):
    """KG materialization (flagship, parameterized by sf). Counts ride
    the compact family code: per-fam counts (6 rows) decode to pred
    and re-sum — the per-pred totals are identical to grouping the
    decoded triple table, with no string ever shuffled."""
    per_fam = _star_keys(spark, sf).groupBy("fam").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        per_fam.select(_fam_case(1).alias("pred"), "_n")
        .groupBy("pred")
        .agg(F.sum("_n").alias("n_triples"))
    )


def q_kg_prov_rollup(spark, sf):
    """Triple provenance (pipeline.build_triples_prov shape) on the star
    KG: per-(subj,pred,obj) observation counts from the RAW pre-dedup
    union — the extraction-count lineage the reference keeps only in
    importer logs — rolled up per (pred, family). Exact integers →
    exact cross-engine oracle."""
    # Compact-key aggregation (same bijection argument as _star_keys):
    # a family id determines (subj prefix, pred, obj prefix), so a
    # given (subj, pred, obj) triple belongs to exactly ONE family —
    # min(family) over a triple's observations IS its family — and the
    # per-triple aggregate can group on (fam tinyint, s_key, o_key)
    # instead of shuffling three URI strings per observation row. The
    # (pred, family) rollup then needs only the per-fam tails.
    per_triple = _star_raw(spark, sf).groupBy("fam", "s_key", "o_key").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    per_fam = per_triple.groupBy("fam").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.sum("n_obs").alias("n_obs_total"),
        F.sum(F.when(F.col("n_obs") > 1, 1).otherwise(0)).alias("n_multi"),
    )

    # the FK each family is named after, in _STAR_FAMS order
    names = [
        "orders_fk", "lineitem_part_fk", "lineitem_supp_fk",
        "customer_fk", "supplier_fk", "nation_fk",
    ]
    family = F.when(F.col("fam") == 0, F.lit(names[0]))
    for i in range(1, len(names)):
        family = family.when(F.col("fam") == i, F.lit(names[i]))
    return (
        per_fam.select(
            _fam_case(1).alias("pred"), family.alias("family"),
            "n_triples", "n_obs_total", "n_multi",
        )
        .groupBy("pred", "family")
        .agg(
            F.sum("n_triples").alias("n_triples"),
            F.sum("n_obs_total").alias("n_obs_total"),
            F.sum("n_multi").alias("n_multi"),
        )
    )


_KG_PROV_ROLLUP_SQL = """
WITH raw AS (
  SELECT 'cust:' || o_custkey AS subj, 'PLACED' AS pred,
         'order:' || o_orderkey AS obj, 'orders_fk' AS family FROM orders
  UNION ALL
  SELECT 'order:' || l_orderkey, 'CONTAINS', 'part:' || l_partkey, 'lineitem_part_fk' FROM lineitem
  UNION ALL
  SELECT 'order:' || l_orderkey, 'SUPPLIED_BY', 'supplier:' || l_suppkey, 'lineitem_supp_fk' FROM lineitem
  UNION ALL
  SELECT 'cust:' || c_custkey, 'LOCATED_IN', 'nation:' || c_nationkey, 'customer_fk' FROM customer
  UNION ALL
  SELECT 'supplier:' || s_suppkey, 'LOCATED_IN', 'nation:' || s_nationkey, 'supplier_fk' FROM supplier
  UNION ALL
  SELECT 'nation:' || n_nationkey, 'PART_OF', 'region:' || n_regionkey, 'nation_fk' FROM nation
), per_triple AS (
  SELECT subj, pred, obj, MIN(family) AS family, COUNT(*) AS n_obs
  FROM raw GROUP BY subj, pred, obj
)
SELECT pred, family, COUNT(*)::BIGINT AS n_triples,
       SUM(n_obs)::BIGINT AS n_obs_total,
       SUM(CASE WHEN n_obs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_multi
FROM per_triple GROUP BY pred, family
"""


def q_degree_topk(spark, sf):
    """A3/W1: out-degree analytics over the star KG (top-10 cited shape,
    neo4j_citation_relationship_builder.py:359-370). The degree
    aggregate groups on (subject-prefix code, key) — fams 0/3 share
    subj prefix 'cust' and 1/2 share 'order', so the code is the subj
    URI's equivalence class — and the URI string is built only for the
    1-per-subject rows feeding the TakeOrdered(10)."""
    keys = _star_keys(spark, sf)
    s_code = (
        F.when(F.col("fam").isin(0, 3), F.lit(0))
        .when(F.col("fam").isin(1, 2), F.lit(1))
        .when(F.col("fam") == 4, F.lit(2))
        .otherwise(F.lit(3))
        .cast("tinyint")
    )
    s_pre = (
        F.when(F.col("_sc") == 0, F.lit("cust"))
        .when(F.col("_sc") == 1, F.lit("order"))
        .when(F.col("_sc") == 2, F.lit("supplier"))
        .otherwise(F.lit("nation"))
    )
    return (
        keys.select(s_code.alias("_sc"), "s_key")
        .groupBy("_sc", "s_key")
        .agg(F.count(F.lit(1)).alias("out_degree"))
        .select(
            F.concat(s_pre, F.lit(":"), F.col("s_key").cast("string")).alias("subj"),
            "out_degree",
        )
        .orderBy(F.desc("out_degree"), F.asc("subj"))
        .limit(10)
    )


def q_cooccur_pattern(spark, sf):
    """J10: co-pattern — event-type pairs per user. NOT a self-join: a
    hot user would produce O(k²) join rows; instead collect the user's
    (small) distinct type set in one shuffle and expand ordered pairs
    in-row, the same shape as the KG pipeline's co-occurrence
    (kgflow/plans/pipeline.py:136-156)."""
    e = _t(spark, sf, "events")
    sets = e.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("ets")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ets"),
            lambda x, i: F.transform(
                F.slice(F.col("ets"), i + 2, F.size(F.col("ets"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("et_a"), F.col("p.b").alias("et_b"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# (continued in _TEXT_VECTOR_QUERIES below)

# ---------------------------------------------------------------------------
# training-data-pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf):
    """Exact dedup: md5-fingerprint groups with canonical min(doc_id)."""
    return dedup.exact_duplicates(_t(spark, sf, "documents"))


def q_minhash_pairs(spark, sf):
    """MinHash+LSH candidate near-dup pairs (8 sigs, bands of 2)."""
    return dedup.minhash_lsh_pairs(_t(spark, sf, "documents"))


def q_jaccard_verify(spark, sf):
    """n-gram Jaccard verify on the LSH candidates (integer inter/union),
    counted inside the LSH buckets."""
    return dedup.minhash_verified_pairs(_t(spark, sf, "documents"))


def q_simhash(spark, sf):
    """16-bit SimHash per document (JVM-side md5-nibble arithmetic)."""
    return dedup.simhash16(_t(spark, sf, "documents"))


def q_ann_brute_topk(spark, sf):
    """Brute-force cosine top-5 for query vectors vec_id < 8."""
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return vector.brute_force_topk(
        emb, queries_df, k=5, query_id_col="query_id"
    ).withColumn("rank", F.col("rank").cast("long"))


def q_ann_lsh_topk(spark, sf):
    """Sign-LSH bucketed ANN top-5 (4 hyperplanes, seed 13)."""
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return vector.lsh_bucket_topk(
        emb, queries_df, dim=64, k=5, n_planes=4, query_id_col="query_id"
    ).withColumn("rank", F.col("rank").cast("long"))


def q_embedding_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs, sign-LSH bucketed (the
    100 TB shape: equi join on the 4-plane bucket key, exact cosine
    verify inside buckets — no all-pairs join). Threshold 0.2 because
    the synthetic vectors are near-orthogonal."""
    return dedup.embedding_near_duplicates(
        _t(spark, sf, "embeddings"), threshold=0.2, dim=64, n_planes=4
    )


def q_text_stats(spark, sf):
    """Token counting + stopword stats per language (integer-exact
    aggregation → order-independent across engines)."""
    d = _t(spark, sf, "documents")
    toks = tx.tokens("text")
    per_doc = d.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(tx.STOPWORDS))).alias("sw_hits"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 4).alias("avg_tokens"),
        F.round(F.sum("sw_hits") / F.sum("n_tokens"), 4).alias("stopword_ratio"),
    )


def q_lang_guess(spark, sf):
    """Heuristic language ID (marker-word argmax) vs the labeled lang;
    marker scans run on the spread scan (``util.spread``)."""
    d = spread(_t(spark, sf, "documents").select("lang", "text"))
    return (
        d.select("lang", tx.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_fingerprint(spark, sf):
    """Document fingerprinting (md5 of normalized text)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", tx.fingerprint("text").alias("fp"))


def q_quality_score(spark, sf):
    """Quality scoring aggregated by source (per-doc score is a pure
    row function; the aggregate goes through a scaled-integer sum so
    the result is independent of partition summation order)."""
    d = _t(spark, sf, "documents")
    per_doc = d.select(
        "source",
        F.round(tx.quality_score("text") * 10000, 0).cast("long").alias("q4"),
    )
    return per_doc.groupBy("source").agg(
        F.round(F.sum("q4") / (F.count(F.lit(1)) * 10000), 4).alias("avg_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_sessionize(spark, sf):
    """Gap-based sessionization stats per user (30-min timeout)."""
    return sessionize.session_stats(_t(spark, sf, "events"))


def q_multimodal_decode(spark, sf):
    """Multimodal columns: a REAL (if minimal) image decode.

    Build: each doc gets a valid PNG signature + IHDR chunk as a binary
    payload, constructed JVM-side (hex concat + to_binary + crc32 — the
    CRC is the genuine PNG chunk CRC over type+data). Decode: pure-Python
    struct parsing of the signature/IHDR/CRC in an Arrow-batched
    mapInPandas — the same plumbing (binary column, batch shape, typed
    output schema) a cv2/pillow decode would use, but verifiable: the
    oracle recomputes width/height/depth from doc_id and crc_ok asserts
    the JVM-built CRC round-trips through zlib."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from kgflow.operators import multimodal  # noqa: PLC0415

    d = _t(spark, sf, "documents").select(
        "doc_id", multimodal.synth_png_payload("doc_id").alias("payload")
    )

    def decode(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "width": [],
                "height": [],
                "bit_depth": [],
                "color_type": [],
                "crc_ok": [],
                "n_bytes": [],
            }
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(b)
                w, h = multimodal.png_size(b)
                crc_stored = struct.unpack(">I", b[29:33])[0]
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["bit_depth"].append(b[24])
                out["color_type"].append(b[25])
                out["crc_ok"].append(zlib.crc32(b[12:29]) == crc_stored)
                out["n_bytes"].append(len(b))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        decode,
        schema="doc_id long, width long, height long, bit_depth long, "
        "color_type long, crc_ok boolean, n_bytes long",
    )


def _queries_part2():
    return {
        "exact_dedup": q_exact_dedup,
        "minhash_lsh_pairs": q_minhash_pairs,
        "ngram_jaccard_verify": q_jaccard_verify,
        "simhash": q_simhash,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_neardup": q_embedding_neardup,
        "text_stats": q_text_stats,
        "lang_guess": q_lang_guess,
        "doc_fingerprint": q_fingerprint,
        "quality_score": q_quality_score,
        "sessionize": q_sessionize,
        "multimodal_decode": q_multimodal_decode,
    }


def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    base = {
        "pricing_summary": q_pricing_summary,
        "region_revenue": q_region_revenue,
        "left_join_counts": q_left_join_counts,
        "anti_join_no_orders": q_anti_join,
        "semi_join_shipped_parts": q_semi_join,
        "two_hop_supplier_region": q_two_hop,
        "symmetric_pairs": q_symmetric_pairs,
        "explode_wordcount": q_explode_wordcount,
        "count_distinct": q_count_distinct,
        "conditional_agg": q_conditional_agg,
        "having_filter": q_having,
        "collect_sorted": q_collect_sorted,
        "topk_orders": q_topk_orders,
        "topk_per_group": q_topk_per_group,
        "dedup_latest_event": q_dedup_latest,
        "lead_next_event": q_lead_next_event,
        "pagination": q_pagination,
        "union_distinct": q_union_distinct,
        "except_non_urgent": q_except,
        "string_hygiene": q_string_hygiene,
        "date_parts": q_date_parts,
        "case_decode": q_case_decode,
        "json_extract": q_json_extract,
        "cast_guard": q_cast_guard,
        "kg_star_triples": q_kg_star_triples,
        "degree_topk": q_degree_topk,
        "cooccur_pattern": q_cooccur_pattern,
    }
    base.update(_queries_part2())
    base.update(_EXTRA_QUERIES)
    return base


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _sw_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS) + "]"


def _minhash_bands_cte(num_hashes: int = 8, band_size: int = 2) -> str:
    """Shared CTE prefix: documents → shingles → signatures → (doc_id,
    band_id, band_key) band rows, UNcapped — the pairing oracle adds the
    cap on top; the cap-stats oracle aggregates the raw bands."""
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(shingles, s -> md5('{i}' || '|' || s))) AS sig_{i}"
        for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '|' || ".join(f"sig_{b * band_size + j}" for j in range(band_size))
        + " AS band_key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) AS shingles
  FROM toks WHERE len(t) >= 3
),
sigs AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh
),
bands AS (
  {band_selects}
)"""


def _minhash_cte(num_hashes: int = 8, band_size: int = 2, max_bucket: int = 500) -> str:
    return _minhash_bands_cte(num_hashes, band_size) + f""",
capped AS (
  -- hot-bucket cap: buckets holding > {max_bucket} docs are dropped
  -- before pairing (mirrors minhash_lsh_pairs(max_bucket={max_bucket}))
  SELECT doc_id, band_id, band_key FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_key) <= {max_bucket}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM capped l JOIN capped r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)
"""


def _sqdist_sql(a: str, b: str) -> str:
    """Squared euclidean distance, index-based so the term order matches
    Spark's left-to-right zip_with fold."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) ^ 2))"
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 4)"
    )


def _lsh_bucket_sql(vec: str) -> str:
    planes = vector.hyperplanes(64, 4, seed=13)
    parts = []
    for p in planes:
        lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        parts.append(
            f"CASE WHEN list_dot_product({vec}::DOUBLE[], {lit}) >= 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


def _lang_guess_sql() -> str:
    hit_cols = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in tx.LANG_MARKERS[lang])
        + f"], x))) AS h_{lang}"
        for lang in sorted(tx.LANG_MARKERS)
    )
    # derive argmax + tie-break from LANG_MARKERS like hit_cols does —
    # Spark's array_max over (hits, lang) structs gives greater-lang-
    # wins on ties, so the CASE checks languages in reverse order
    langs = sorted(tx.LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case_branches = "\n       ".join(
        f"WHEN h_{lg} = {mx} THEN '{lg}'" for lg in reversed(langs[1:])
    )
    return f"""
WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
h AS (SELECT lang, {hit_cols} FROM t)
SELECT lang,
  CASE WHEN {mx} = 0 THEN 'und'
       {case_branches}
       ELSE '{langs[0]}' END AS guess,
  COUNT(*)::BIGINT AS n
FROM h GROUP BY 1, 2
"""


def _base_oracles() -> dict[str, str]:
    """DuckDB-equivalent SQL per query."""
    sw = _sw_list()
    quality_q4 = (
        "CAST(round(round((least(len(t)/100.0, 1.0) + "
        f"(1 - abs(len(list_filter(t, x -> list_contains({sw}, x)))/len(t) - 0.3)))/2, 4)"
        " * 10000, 0) AS BIGINT)"
    )
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              CAST(round(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
              CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base_price,
              CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price,
              round(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
              COUNT(*)::BIGINT AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "region_revenue": """
            SELECT r_name,
              CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
              COUNT(*)::BIGINT AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "left_join_counts": """
            SELECT c_custkey, COUNT(o_orderkey)::BIGINT AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey""",
        "anti_join_no_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "semi_join_shipped_parts": """
            SELECT p_partkey, p_name FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""",
        "two_hop_supplier_region": """
            SELECT r_name, COUNT(*)::BIGINT AS n_suppliers
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "symmetric_pairs": """
            SELECT DISTINCT a.s_nationkey AS nk, a.s_suppkey AS a, b.s_suppkey AS b
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey""",
        "explode_wordcount": f"""
            SELECT word, COUNT(*)::BIGINT AS n
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            GROUP BY word ORDER BY n DESC, word LIMIT 20""",
        "count_distinct": """
            SELECT o_orderstatus,
              COUNT(DISTINCT o_custkey)::BIGINT AS n_customers,
              COUNT(*)::BIGINT AS n_orders
            FROM orders GROUP BY o_orderstatus""",
        "conditional_agg": """
            SELECT l_linestatus,
              CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
              CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
            FROM lineitem GROUP BY l_linestatus""",
        "having_filter": """
            SELECT o_custkey, COUNT(*)::BIGINT AS n_orders
            FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12""",
        "collect_sorted": """
            SELECT c_nationkey,
              array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
              COUNT(*)::BIGINT AS n_customers
            FROM customer GROUP BY c_nationkey""",
        "topk_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""",
        "topk_per_group": """
            SELECT o_orderpriority, rank, o_orderkey FROM (
              SELECT o_orderpriority, o_orderkey,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders) WHERE rank <= 3""",
        "dedup_latest_event": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1""",
        "lead_next_event": """
            SELECT user_id, event_id, next_event_id FROM (
              SELECT user_id, event_id,
                lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
              FROM events) WHERE next_event_id IS NOT NULL""",
        "pagination": """
            SELECT c_custkey, c_name FROM customer
            ORDER BY c_custkey LIMIT 10 OFFSET 20""",
        "union_distinct": """
            SELECT DISTINCT o_custkey FROM (
              SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
              UNION ALL
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
        "except_non_urgent": """
            SELECT o_custkey FROM orders
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""",
        "string_hygiene": """
            SELECT p_partkey,
              lower(trim(p_name)) AS name_clean,
              regexp_replace(p_type, '[^A-Z]', '', 'g') AS type_caps,
              'part://' || p_brand || '/' || p_partkey AS part_uri,
              substr(p_name, 1, 10) AS name_trunc
            FROM part""",
        "date_parts": """
            SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
              COUNT(*)::BIGINT AS n_orders,
              CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1, 2""",
        "case_decode": """
            SELECT o_orderkey,
              CASE WHEN o_orderstatus = 'F' THEN 'finished'
                   WHEN o_orderstatus = 'O' THEN 'open'
                   WHEN o_orderstatus = 'P' THEN 'pending'
                   ELSE 'unknown' END AS status_label
            FROM orders""",
        "json_extract": """
            SELECT event_type,
              round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
              MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type""",
        "cast_guard": """
            SELECT doc_id,
              CAST(n_chars AS DOUBLE) AS n_chars_d,
              CASE WHEN trim(lang) = '' THEN NULL ELSE lang END AS lang_norm,
              substr(text, 1, 50) AS head
            FROM documents""",
        "kg_star_triples": _STAR_TRIPLES_SQL
        + "SELECT pred, COUNT(*)::BIGINT AS n_triples FROM t GROUP BY pred",
        "degree_topk": _STAR_TRIPLES_SQL
        + """SELECT subj, COUNT(*)::BIGINT AS out_degree FROM t
             GROUP BY subj ORDER BY out_degree DESC, subj LIMIT 10""",
        "cooccur_pattern": """
            WITH et AS (SELECT DISTINCT user_id, event_type FROM events)
            SELECT a.event_type AS et_a, b.event_type AS et_b,
              COUNT(DISTINCT a.user_id)::BIGINT AS n_users
            FROM et a JOIN et b ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2""",
        "exact_dedup": f"""
            SELECT md5({_NORM}) AS fingerprint,
              MIN(doc_id) AS canonical_id, COUNT(*)::BIGINT AS n_dups
            FROM documents GROUP BY 1""",
        "minhash_lsh_pairs": _minhash_cte() + "SELECT id_a, id_b FROM pairs",
        "ngram_jaccard_verify": _minhash_cte()
        + """
            SELECT p.id_a, p.id_b,
              CAST(len(list_intersect(a.shingles, b.shingles)) AS INT) AS inter_size,
              CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS INT) AS union_size
            FROM pairs p
            JOIN sh a ON a.doc_id = p.id_a
            JOIN sh b ON b.doc_id = p.id_b""",
        "simhash": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
            ),
            h AS (SELECT doc_id, md5(tok) AS h FROM toks),
            pos AS (SELECT doc_id, h, unnest(generate_series(1, 16)) AS i FROM h),
            contrib AS (
              SELECT doc_id, i,
                CASE WHEN strpos('0123456789abcdef', substr(h, CAST(i AS INT), 1)) >= 9
                     THEN 1 ELSE -1 END AS c
              FROM pos),
            bits AS (SELECT doc_id, i, SUM(c) AS s FROM contrib GROUP BY doc_id, i)
            SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN 1 << CAST(i - 1 AS INT) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id""",
        "ann_brute_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
            s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {_cosine_sql('q.qv', 'e.embedding')} AS score
              FROM embeddings e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank FROM s)
            WHERE rank <= 5""",
        "ann_lsh_topk": f"""
            WITH c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                              {_lsh_bucket_sql('embedding')} AS bucket FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS qv,
                         {_lsh_bucket_sql('embedding')} AS bucket
                  FROM embeddings WHERE vec_id < 8),
            s AS (
              SELECT q.query_id, c.neighbor_id,
                     {_cosine_sql('q.qv', 'c.cv')} AS score
              FROM c JOIN q ON c.bucket = q.bucket
              WHERE c.neighbor_id <> q.query_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, neighbor_id) AS rank FROM s)
            WHERE rank <= 5""",
        "embedding_neardup": f"""
            WITH bk AS (SELECT vec_id, embedding,
                               {_lsh_bucket_sql('embedding')} AS bucket
                        FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
            FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= 0.2""",
        "text_stats": f"""
            WITH t AS (
              SELECT lang, len({_TOKS}) AS n_tokens,
                len(list_filter({_TOKS}, x -> list_contains({sw}, x))) AS sw_hits
              FROM documents)
            SELECT lang,
              CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS avg_tokens,
              round(CAST(SUM(sw_hits) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 4) AS stopword_ratio
            FROM t GROUP BY lang""",
        "lang_guess": _lang_guess_sql(),
        "doc_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
        "quality_score": f"""
            WITH t AS (SELECT source, {_TOKS} AS t FROM documents),
            pq AS (SELECT source, {quality_q4} AS q4 FROM t)
            SELECT source,
              round(CAST(SUM(q4) AS DOUBLE) / (COUNT(*) * 10000), 4) AS avg_quality,
              COUNT(*)::BIGINT AS n_docs
            FROM pq GROUP BY source""",
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR datediff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
                     THEN 1 ELSE 0 END AS ns
              FROM events),
            sess AS (
              SELECT user_id,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_id
              FROM o),
            per AS (SELECT user_id, session_id, COUNT(*) AS n FROM sess GROUP BY 1, 2)
            SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
              CAST(SUM(n) AS BIGINT) AS n_events,
              CAST(MAX(n) AS BIGINT) AS max_session_events
            FROM per GROUP BY user_id""",
        **_EXTRA_ORACLES,
    }


# ---------------------------------------------------------------------------
# extended operator coverage (frames, rollup, pivot, range/as-of joins,
# exact percentiles, embedding centroids)
# ---------------------------------------------------------------------------


def q_rollup(spark, sf):
    """Grouping sets: ROLLUP(status, priority) with NULL subtotal rows."""
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("o_totalprice").alias("revenue"))
    )


def q_percentile(spark, sf):
    """Exact interpolated percentiles (the deterministic twin of
    percentile_approx; at 100 TB swap in approx_percentile and accept
    the error bound)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


def q_running_sum(spark, sf):
    """Window frame: cumulative revenue per customer by order date."""
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w), 2
        ).cast("double").alias("cum_revenue"),
    )


def q_rank_dense_ntile(spark, sf):
    """rank / dense_rank / ntile over one window."""
    s = _t(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(2).over(w).cast("long").alias("half"),
    )


def q_pivot(spark, sf):
    """Pivot: order counts by priority × status (fixed value set)."""
    o = _t(spark, sf, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    # empty cells pivot to NULL; the oracle's SUM(CASE) yields 0
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


def q_range_join(spark, sf):
    """Range (interval) join: same-user event pairs within 60s, banded.

    Joining on user_id alone makes a hot user O(k²); banding each side
    into 60-second time buckets turns it into an equi join on
    (user_id, bucket) — a candidate pair can only live in the same or
    the adjacent bucket, so the right side is exploded to 2 bucket keys
    and the intermediate is O(events × local density), not O(k²)."""
    e = _t(spark, sf, "events").withColumn(
        "_tsl", F.col("ts").cast("timestamp").cast("long")
    )
    a = e.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("ts").alias("ts_raw_a"),
        F.col("_tsl").alias("ts_a"),
        F.floor(F.col("_tsl") / 60).alias("bkt"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("ts_raw_b"),
        F.col("_tsl").alias("ts_b"),
        # b in [a, a+60s] ⇒ b's bucket is a's or the one after ⇒ probe
        # a.bkt ∈ {b.bkt, b.bkt - 1}
        F.explode(
            F.array(
                F.floor(F.col("_tsl") / 60), F.floor(F.col("_tsl") / 60) - 1
            )
        ).alias("bkt"),
    )
    # ordering on the RAW (sub-second) timestamps — truncated longs are
    # used only for the bucket key and the whole-second diff, matching
    # the oracle's `b.ts >= a.ts AND datediff('second', a.ts, b.ts) <= 60`
    pairs = a.join(b, ["user_id", "bkt"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_raw_b") >= F.col("ts_raw_a"))
        & (F.col("ts_b") - F.col("ts_a") <= 60)
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def q_asof_prior_event(spark, sf):
    """As-of join expressed as a running conditional max: for every
    'error' event, the timestamp of the user's latest prior 'signup'."""
    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    signup_ts = F.max(
        F.when(
            F.col("event_type") == "signup", F.col("ts").cast("timestamp").cast("long")
        )
    ).over(w)
    return (
        e.withColumn("prior_signup_epoch", signup_ts)
        .filter(F.col("event_type") == "error")
        .select("user_id", "event_id", "prior_signup_epoch")
    )


def q_embedding_centroid(spark, sf):
    """Per-label embedding centroid, per dimension (posexplode + avg —
    integer-free but deterministic: fixed fold order per (label, dim))."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        ex.filter(F.col("dim") < 8)
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                5,
            ).alias("centroid_v")
        )
    )


def q_dynamic_projection(spark, sf):
    """P1: dynamic column pruning — drop every column whose name starts
    with 'o_order' except the key (reference drops 'date*' columns,
    cql/import/import_hgnc.cql:25-41)."""
    o = _t(spark, sf, "orders")
    keep = [c for c in o.columns if not c.startswith("o_order") or c == "o_orderkey"]
    return o.select(*keep)


def q_bracketed_list_parse(spark, sf):
    """P4: bracketed-Python-list parse (import_monarchkg_relationships
    .py:26-40) — synthesized from testdata columns and parsed by
    ``imports.parse_bracketed_list``, the one P4 rule."""
    from kgflow.operators import imports

    d = _t(spark, sf, "documents")
    bracketed = F.concat(
        F.lit("['"), F.col("lang"), F.lit("', '"), F.col("source"), F.lit("']")
    )
    parsed = imports.parse_bracketed_list(bracketed)
    return d.select(
        "doc_id",
        parsed.getItem(0).alias("first_item"),
        parsed.getItem(1).alias("second_item"),
        F.size(parsed).alias("n_items"),
    )


_EXTRA_QUERIES = {
    "rollup_revenue": q_rollup,
    "percentile_exact": q_percentile,
    "running_sum": q_running_sum,
    "rank_dense_ntile": q_rank_dense_ntile,
    "pivot_status": q_pivot,
    "range_join_pairs": q_range_join,
    "asof_prior_event": q_asof_prior_event,
    "embedding_centroid": q_embedding_centroid,
    "dynamic_projection": q_dynamic_projection,
    "bracketed_list_parse": q_bracketed_list_parse,
}

_EXTRA_ORACLES = {
    "rollup_revenue": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n,
          CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "percentile_exact": """
        SELECT event_type,
          round(quantile_cont(value, 0.5), 4) AS p50,
          round(quantile_cont(value, 0.9), 4) AS p90
        FROM events GROUP BY event_type""",
    "running_sum": """
        SELECT o_custkey, o_orderkey,
          CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS cum_revenue
        FROM orders""",
    "rank_dense_ntile": """
        SELECT s_suppkey, s_nationkey,
          rank() OVER w AS rnk,
          dense_rank() OVER w AS drnk,
          ntile(2) OVER w AS half
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)""",
    "pivot_status": """
        SELECT o_orderpriority,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
          CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
          CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority""",
    "range_join_pairs": """
        SELECT a.user_id, COUNT(*)::BIGINT AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND b.ts >= a.ts AND datediff('second', a.ts, b.ts) <= 60
        GROUP BY a.user_id""",
    "asof_prior_event": """
        SELECT user_id, event_id, prior_signup_epoch FROM (
          SELECT user_id, event_id, event_type,
            MAX(CASE WHEN event_type = 'signup' THEN CAST(floor(epoch(ts)) AS BIGINT) END)
              OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup_epoch
          FROM events)
        WHERE event_type = 'error'""",
    "embedding_centroid": """
        SELECT label, CAST(dim AS INT) AS dim,
          round(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 5) AS centroid_v
        FROM (
          SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                 unnest(embedding) AS v
          FROM embeddings)
        WHERE dim < 8 GROUP BY label, dim""",
    "dynamic_projection": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders""",
    "bracketed_list_parse": """
        SELECT doc_id, lang AS first_item, source AS second_item, 2 AS n_items
        FROM documents""",
}


def q_hybrid_search(spark, sf):
    """E5 hybrid search: cosine top-5 among label-0 corpus vectors only."""
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return vector.filtered_topk(
        emb, queries_df, F.col("label") == 0, k=5
    ).withColumn("rank", F.col("rank").cast("long"))






def q_salted_distinct(spark, sf):
    """Skew-safe distinct aggregation: 3 hot keys (order status) hold
    5k rows each; salted two-level aggregation matches plain semantics."""
    from kgflow.operators import skew

    o = _t(spark, sf, "orders").select(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("prio")
    )
    sets = skew.salted_collect_set(o, "status", "prio", n_salts=8)
    counts = skew.salted_count_distinct(o, "status", "prio", n_salts=8)
    return sets.join(counts, "status").select(
        "status",
        F.concat_ws(",", "prio_set").alias("priorities"),
        F.col("n_prio").alias("n_priorities"),
    )






def q_substring_search(spark, sf):
    """J4: case-insensitive substring filter-scan with deterministic
    top-k (readcube_papers_query.py:62-75)."""
    p = _t(spark, sf, "part")
    return (
        p.filter(F.lower(F.col("p_name")).contains("re"))
        .orderBy("p_partkey")
        .select("p_partkey", "p_name")
        .limit(25)
    )


def q_hash_embed_docs(spark, sf):
    """E1/E2: Arrow-batched text→vector encode (deterministic hash
    embedding stand-in for BERT; zero vector for empty text). The
    vector is a pandas-UDF output; the oracle checks its invariants
    (unit L2 norm for non-empty text, fixed dim) per doc."""
    from kgflow.operators import extract

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    emb = extract.hash_embedding(d, dim=32)
    return emb.select(
        "doc_id",
        F.round(vector.norm("embedding"), 4).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )






def q_ann_brute_topk_np(spark, sf):
    """E4 scale path: per-partition numpy GEMM + shortlist (same results
    as the JVM fold variant, ~order-of-magnitude faster per row)."""
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return vector.brute_force_topk_np(
        emb, queries_df, k=5, query_id_col="query_id"
    ).withColumn("rank", F.col("rank").cast("long"))






def q_boilerplate_shingles(spark, sf):
    """Boilerplate detection for training-data hygiene: 3-gram shingles
    shared across the most documents (candidates for removal)."""
    # spread BEFORE shingling, so raw text crosses an exchange once and
    # the exploded shingle rows never do (guide §2.3)
    d = spread(_t(spark, sf, "documents").select("doc_id", "text"))
    sh = d.select(
        "doc_id", F.explode(tx.word_shingles("text", 3)).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(15)
    )






def q_ivf_topk(spark, sf):
    """IVF coarse-quantizer ANN (cluster assignment, nprobe probing,
    in-cluster exact top-k). The driver query pins the quantizer to the
    deterministic seed init (Lloyd iters=0 → centroids are the 8
    lowest-id embeddings verbatim), which makes the ENTIRE search path
    oracle-checkable in DuckDB — quantizer quality affects recall only,
    not the algorithm, and the k-means-refined quantizer (iters>0) is
    the same code path, recall-tested in
    tests/test_operators.py::test_ivf_topk_recall."""
    emb = _t(spark, sf, "embeddings")
    cents = vector.kmeans_centroids(emb, k=8, iters=0)
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return vector.ivf_topk(emb, queries_df, cents, k=5, nprobe=3).withColumn(
        "rank", F.col("rank").cast("long")
    )




# ---------------------------------------------------------------------------
# round-2 operators: S8 record parse, J3 prefix join, J12 bounded paths,
# C1 merge_props, real multimodal decode
# ---------------------------------------------------------------------------


def q_doc_parse_fields(spark, sf):
    """S8 part 1: nested-record scalar extraction — pmid/title + labeled
    abstract-section concat (neo4j_pubmed_batch_embeddings_processor.py:
    104-133), over records synthesized deterministically from documents."""
    from kgflow.operators import docparse

    recs = docparse.synth_json_records(spread(_t(spark, sf, "documents")))
    return docparse.parse_records(recs).select("pmid", "title", "abstract")


def q_doc_parse_triples(spark, sf):
    """S8 part 2: nested arrays → edges. AUTHORED with 1-based position
    (PubMedAbstractEmbedding.py:184-192) + HAS_MESH_TERM
    (PubMedAbstractEmbedding.py:205-215)."""
    from kgflow.operators import docparse

    # spread BEFORE the record synthesis: the to_json struct
    # construction (interpreted HOF transforms) and the pruned
    # per-field parses then both run at full parallelism
    recs = docparse.synth_json_records(spread(_t(spark, sf, "documents")))
    return docparse.doc_edge_triples(docparse.parse_records(recs))


def q_doc_parse_xml(spark, sf):
    """S8 in the reference's literal wire format: raw PubMed efetch XML
    (neo4j_pubmed_batch_embeddings_processor.py:67-98) parsed with Spark
    4 from_xml under an explicit schema — same (pmid, title, abstract)
    contract and same oracle as the JSON path, so the two formats are
    cross-checked against one construction inverse."""
    from kgflow.operators import docparse

    recs = docparse.synth_xml_records(spread(_t(spark, sf, "documents")))
    return docparse.parse_xml_records(recs).select("pmid", "title", "abstract")


def q_prefix_match_join(spark, sf):
    """J3: STARTS WITH theta join as a derived-key equi join
    (import_cosmic_genes.cql:41-46). Entry names PREFIX_key are matched
    to the symbol dimension with exact STARTS WITH semantics (candidate
    prefixes derived per distinct dim key length)."""
    from kgflow.operators import link

    p = _t(spark, sf, "part")
    first_word = F.upper(F.split(F.col("p_name"), " ")[0])
    entries = p.select(
        F.concat(first_word, F.lit("_"), F.col("p_partkey").cast("string")).alias(
            "entry_name"
        )
    )
    symbols = p.select(first_word.alias("symbol")).distinct()
    joined = link.prefix_match_join(entries, symbols, "entry_name", "symbol")
    return joined.groupBy("symbol").agg(F.count(F.lit(1)).alias("n_entries"))


def q_path_upto3(spark, sf):
    """J12: bounded variable-length path *1..3 (import_hpo.cql:271-273)
    over the containment hierarchy order→customer→nation→region;
    aggregated to (src node type, dst, n) so the result stays compact.

    Every hop join / dedup / grouping runs on COMPACT node ids —
    ``kind << 48 | key`` packs the (prefix, numeric key) node identity
    into one long (bijective: keys ≪ 2⁴⁸), so the three join rounds
    shuffle 8-byte longs instead of URI strings (guide §2.3); the URI
    strings are decoded only for the aggregated output rows."""
    from kgflow.operators import canon

    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    supplier = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")

    kinds = ["order", "cust", "supplier", "nation", "region"]

    def nid(kind: int, col):
        return (
            F.lit(kind * (1 << 48)) + F.col(col).cast("long")
        ).alias  # caller names it

    edges = (
        orders.select(nid(0, "o_orderkey")("src"), nid(1, "o_custkey")("dst"))
        .unionByName(customer.select(nid(1, "c_custkey")("src"), nid(3, "c_nationkey")("dst")))
        .unionByName(supplier.select(nid(2, "s_suppkey")("src"), nid(3, "s_nationkey")("dst")))
        .unionByName(nation.select(nid(3, "n_nationkey")("src"), nid(4, "n_regionkey")("dst")))
    )
    paths = canon.bounded_paths(edges, max_hops=3)

    def kind_str(c):
        expr = F.when(c == 0, F.lit(kinds[0]))
        for i in range(1, len(kinds)):
            expr = expr.when(c == i, F.lit(kinds[i]))
        return expr

    # aggregate on the compact ids, decode URIs for the result rows
    agg = paths.groupBy(
        F.shiftright("src", 48).alias("_sk"), "dst", "min_depth"
    ).agg(F.count(F.lit(1)).alias("n_srcs"))
    return agg.select(
        kind_str(F.col("_sk")).alias("src_kind"),
        F.concat(
            kind_str(F.shiftright("dst", 48)),
            F.lit(":"),
            (F.col("dst").bitwiseAND(F.lit((1 << 48) - 1))).cast("string"),
        ).alias("dst"),
        "min_depth",
        "n_srcs",
    )


_PROBES = ["spark sql", "vector index", "merge upsert", "quick brown fox"]


def q_contamination_probe(spark, sf):
    """Training-data hygiene: benchmark-contamination probing — for each
    probe n-gram, how many documents contain it verbatim (normalized
    whitespace/case). Pure integer counts → exact cross-engine oracle.
    At 100 TB: ONE scan of the table regardless of probe count — every
    probe's hit flag is a column of the same projection, the aggregate
    collapses to a single row of per-probe sums, and that row unpivots
    driver-side to (probe, n_docs). For large probe sets swap in the
    Aho–Corasick matcher behind the same contract."""
    d = _t(spark, sf, "documents")
    norm = tx.normalized_text("text")
    per_doc = d.select(
        *[norm.contains(p).cast("int").alias(f"_h{i}") for i, p in enumerate(_PROBES)]
    )
    agged = per_doc.agg(
        *[F.sum(f"_h{i}").cast("long").alias(f"_s{i}") for i in range(len(_PROBES))]
    )
    return agged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("probe"), F.col(f"_s{i}").alias("n_docs")
                    )
                    for i, p in enumerate(_PROBES)
                ]
            )
        ).alias("r")
    ).select("r.probe", "r.n_docs")


def q_contamination_probe_ac(spark, sf):
    """Large-probe-set contamination probing (the wide-lexicon path of
    ``q_contamination_probe``): a token Aho–Corasick automaton built once
    per executor from the broadcast probe list scans each document in ONE
    pass regardless of probe count — the per-probe-column plan of the
    literal variant stops being viable at ~10k probes (10k projected
    columns), while the automaton's per-token work stays O(1) amortized.
    Semantics: token-boundary occurrence (probe tokens appear as a
    contiguous token subsequence of the whitespace-normalized text), with
    every probe detected independently — nested/overlapping probes all
    count (``TokenAhoCorasick.match_set``). Per-batch partial counts are
    combined map-side in Python, so the shuffle is |probes| rows per
    partition. Zero-hit probes are kept via a left join from the probe
    dimension."""
    import pandas as pd

    d = spread(_t(spark, sf, "documents").select("text"))
    probes = list(_PROBES)
    bc = spark.sparkContext.broadcast(probes)

    def run(batches):
        from kgflow.operators.extract import TokenAhoCorasick

        ac = TokenAhoCorasick(bc.value)
        counts: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                if isinstance(text, str) and text:
                    for p in ac.match_set(text):
                        counts[p] = counts.get(p, 0) + 1
        yield pd.DataFrame(
            {"probe": list(counts.keys()), "n_hits": list(counts.values())}
        )

    hits = d.mapInPandas(run, "probe string, n_hits long")
    per_probe = hits.groupBy("probe").agg(F.sum("n_hits").alias("n"))
    all_probes = spark.createDataFrame([(p,) for p in probes], "probe string")
    return all_probes.join(per_probe, "probe", "left").select(
        "probe", F.coalesce("n", F.lit(0)).cast("long").alias("n_docs")
    )


def q_bucket_quality_rollup(spark, sf):
    """Quality-lineage rollup (A10 closure): the EXACT per-bucket
    data-quality aggregate the resumable runner records in its ledger
    (kgflow.plans.checkpoint.bucket_quality — avg token count,
    scaled-integer TTR, empty-text count), applied to the documents
    table under a deterministic SQL-portable bucketing (doc_id % 8; the
    production runner buckets by conv-hash, which DuckDB can't
    reproduce). One map-side-combining aggregate; exact integers except
    two explicit 2dp/0dp rounds."""
    from kgflow.plans import checkpoint as cp

    d = _t(spark, sf, "documents").select(
        (F.col("doc_id") % 8).cast("int").alias("bucket"), "text"
    )
    return cp.bucket_quality(d)


_STRAT_RATES = {"src0": 0.2, "src1": 0.8}
_STRAT_DEFAULT = 0.5


def q_stratified_sample(spark, sf):
    """Deterministic stratified sampling (training-mix construction):
    per-source keep rates decided by a pure md5(salt|id) threshold —
    reproducible across runs, engines and cluster sizes, one narrow
    scan, no RNG state. kgflow.operators.sample.stratified_hash_sample."""
    from kgflow.operators import sample

    d = _t(spark, sf, "documents")
    return sample.stratified_hash_sample(
        d, _STRAT_RATES, default_rate=_STRAT_DEFAULT
    ).select("doc_id", "source")


def q_pack_sequences(spark, sf):
    """Sequence packing (pretraining loader shape): per source stream,
    docs in doc_id order are virtually concatenated and cut every 512
    tokens; bin_id/bin_offset come from one exclusive-prefix-sum window
    — kgflow.operators.sample.pack_sequences."""
    from kgflow.operators import sample

    return sample.pack_sequences(_t(spark, sf, "documents"), budget=512)


def q_dedup_cluster_assign(spark, sf):
    """The full dedup composition: LSH candidates → exact Jaccard
    verify (scaled-integer threshold) → connected components over the
    verified pair graph (near-duplication is not transitive — A≈B≈C
    clusters A,C together) → min-id representative, assigned back to
    every document. kgflow.operators.dedup.dedup_clusters."""
    return dedup.dedup_clusters(_t(spark, sf, "documents"))


def q_simhash_near_pairs(spark, sf):
    """SimHash tier completed: hamming ≤ 2 near-dup pairs via
    pigeonhole banding (6/5/5-bit bands — agreement on ≥1 band is
    guaranteed within the bound), bucketed equi-join candidates,
    bit_count(xor) exact verify. dedup.simhash_near_pairs."""
    return dedup.simhash_near_pairs(_t(spark, sf, "documents"))


def q_sample_exact_n(spark, sf):
    """Fixed-budget stratified sampling: exactly min(5, |stratum|) docs
    per source — each stratum's 5 smallest md5 hashes (deterministic,
    engine-portable). sample.stratified_sample_exact_n."""
    from kgflow.operators import sample

    return sample.stratified_sample_exact_n(
        _t(spark, sf, "documents"), n=5
    ).select("doc_id", "source")


def q_pii_redact(spark, sf):
    """Privacy scrub (pre-training pass): URL / email / IPv4 / phone
    spans → typed placeholders via chained regexp_replace
    (tx.redact_pii — lookaround-free patterns so Java regex and RE2
    agree bit-for-bit). PII-bearing text is constructed
    deterministically from the customer table so the patterns are
    actually exercised; pure codegen over the spread customer scan
    (``util.spread``: a single-split scan would otherwise run the 4
    chained regexes on one task)."""
    c = spread(_t(spark, sf, "customer"))
    ck = F.col("c_custkey").cast("string")
    synth_text = F.concat(
        F.lit("contact "), F.col("c_name"),
        F.lit(" at user"), ck, F.lit("@example.org, see https://ex.com/p/"), ck,
        F.lit(" ip 10.0."), (F.col("c_custkey") % 256).cast("string"),
        F.lit("."), F.col("c_nationkey").cast("string"),
        F.lit(" tel 555-010-"), F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    return c.select(
        "c_custkey", tx.redact_pii(synth_text).alias("redacted")
    )


def q_lexical_diversity(spark, sf):
    """Quality dimension: type-token ratio per source (distinct tokens /
    total tokens), scaled-integer exact so the aggregate is independent
    of partition order."""
    d = _t(spark, sf, "documents")
    toks = tx.tokens("text")
    per_doc = d.select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).filter(F.col("n_tok") > 0)
    ttr_q4 = F.round(F.col("n_distinct") * 10000 / F.col("n_tok"), 0).cast("long")
    return per_doc.select("source", ttr_q4.alias("q4")).groupBy("source").agg(
        F.round(F.sum("q4") / (F.count(F.lit(1)) * 10000), 4).alias("avg_ttr"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_rdf_ntriples(spark, sf):
    """S6: RDF N-Triples parse — the Spark-native form of the
    reference's n10s.rdf.import (distributed line scan + regex extract,
    IRI vs literal objects). Lines synthesized from nation, parsed back;
    the oracle is the construction inverse."""
    from kgflow.sources import readers

    n = _t(spark, sf, "nation")
    nk = F.col("n_nationkey").cast("string")
    iri_lines = n.select(
        F.concat(
            F.lit("<urn:nation:"), nk,
            F.lit("> <urn:rel:partOf> <urn:region:"),
            F.col("n_regionkey").cast("string"), F.lit("> .")
        ).alias("value")
    )
    lit_lines = n.select(
        F.concat(
            F.lit("<urn:nation:"), nk,
            F.lit('> <urn:prop:name> "'), F.col("n_name"), F.lit('"@en .')
        ).alias("value")
    )
    return readers.parse_ntriples(iri_lines.unionByName(lit_lines))


def q_merge_props_upsert(spark, sf):
    """C1 ON MATCH aggregate-merge resolution rule (david_gene_name.cql:
    40-42): merge cols concat sorted-distinct on collision, other cols
    latest-batch-wins — the pure function behind upsert(mode=
    'merge_props'), simulated over two customer batches."""
    from kgflow.plans import materialize

    c = _t(spark, sf, "customer")
    rows = c.select(
        (F.col("c_custkey") % 50).alias("gid"),
        F.col("c_mktsegment").alias("segs"),
        F.col("c_acctbal").alias("bal"),
        F.when(F.col("c_custkey") < 750, F.lit(1)).otherwise(F.lit(2)).alias("seq"),
    )
    return materialize.merge_props_resolve(rows, ["gid"], ["segs"], "seq")


_DOCREC_SQL = r"""
WITH dtoks AS (
  SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
rec AS (
  SELECT doc_id, to_json(struct_pack(
    pmid := CAST(doc_id AS VARCHAR),
    title := coalesce(array_to_string(t[1:5], ' '), ''),
    -- DuckDB slices past the list end yield NULL where Spark's slice()
    -- yields an empty array -> coalesce to ''
    abstract := [
      struct_pack(label := 'BACKGROUND', "text" := coalesce(array_to_string(t[6:13], ' '), '')),
      struct_pack(label := '', "text" := coalesce(array_to_string(t[14:21], ' '), ''))
    ],
    authors := list_transform(generate_series(1, CAST(doc_id % 3 + 1 AS INT)),
      i -> struct_pack(
        last_name := 'Auth' || doc_id || '_' || i,
        first_name := 'First',
        initials := 'A' || i)),
    mesh := [upper(lang), upper(source)]
  )) AS j FROM dtoks
)
"""


def _r2_oracles() -> dict[str, str]:
    return {
        "multimodal_decode": """
            SELECT doc_id,
              64 + doc_id % 192 AS width,
              64 + (doc_id * 7) % 128 AS height,
              CAST(8 AS BIGINT) AS bit_depth,
              CAST(2 AS BIGINT) AS color_type,
              TRUE AS crc_ok,
              CAST(33 AS BIGINT) AS n_bytes
            FROM documents""",
        "doc_parse_fields": _DOCREC_SQL + """
            SELECT json_extract_string(j, '$.pmid') AS pmid,
              json_extract_string(j, '$.title') AS title,
              array_to_string(list_transform(
                generate_series(1, CAST(json_array_length(j, '$.abstract') AS INT)),
                i -> CASE WHEN json_extract_string(j, '$.abstract[' || CAST(i - 1 AS VARCHAR) || '].label') <> ''
                          THEN json_extract_string(j, '$.abstract[' || CAST(i - 1 AS VARCHAR) || '].label') || ': ' ||
                               json_extract_string(j, '$.abstract[' || CAST(i - 1 AS VARCHAR) || '].text')
                          ELSE json_extract_string(j, '$.abstract[' || CAST(i - 1 AS VARCHAR) || '].text') END),
                ' ') AS abstract
            FROM rec""",
        "doc_parse_triples": _DOCREC_SQL + """
            , authored AS (
              SELECT s.subj AS subj, 'AUTHORED' AS pred,
                     'pmid:' || json_extract_string(j, '$.pmid') AS obj, s.pos AS pos
              FROM (
                SELECT j, unnest(list_transform(
                  generate_series(1, CAST(json_array_length(j, '$.authors') AS INT)),
                  i -> struct_pack(
                    subj := 'author:' ||
                      json_extract_string(j, '$.authors[' || CAST(i - 1 AS VARCHAR) || '].last_name')
                      || ':' ||
                      json_extract_string(j, '$.authors[' || CAST(i - 1 AS VARCHAR) || '].initials'),
                    pos := CAST(i AS BIGINT)))) AS s
                FROM rec)
            ),
            meshed AS (
              SELECT 'pmid:' || json_extract_string(j, '$.pmid') AS subj,
                     'HAS_MESH_TERM' AS pred, 'mesh:' || m AS obj,
                     CAST(NULL AS BIGINT) AS pos
              FROM (
                SELECT j, unnest(list_transform(
                  generate_series(1, CAST(json_array_length(j, '$.mesh') AS INT)),
                  i -> json_extract_string(j, '$.mesh[' || CAST(i - 1 AS VARCHAR) || ']'))) AS m
                FROM rec)
            )
            SELECT DISTINCT subj, pred, obj, pos FROM (
              SELECT * FROM authored UNION ALL SELECT * FROM meshed)""",
        "prefix_match_join": """
            WITH e AS (
              SELECT upper(regexp_split_to_array(p_name, ' ')[1]) || '_' || p_partkey AS entry_name
              FROM part),
            s AS (
              SELECT DISTINCT upper(regexp_split_to_array(p_name, ' ')[1]) AS symbol
              FROM part)
            SELECT s.symbol, COUNT(*)::BIGINT AS n_entries
            FROM e JOIN s ON starts_with(e.entry_name, s.symbol)
            GROUP BY s.symbol""",
        "path_upto3": """
            WITH RECURSIVE edges AS (
              SELECT 'order:' || o_orderkey AS src, 'cust:' || o_custkey AS dst FROM orders
              UNION ALL
              SELECT 'cust:' || c_custkey, 'nation:' || c_nationkey FROM customer
              UNION ALL
              SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
              UNION ALL
              SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
            ),
            p AS (
              SELECT src, dst, 1 AS depth FROM edges
              UNION ALL
              SELECT p.src, e.dst, p.depth + 1
              FROM p JOIN edges e ON p.dst = e.src
              WHERE p.depth < 3
            ),
            mins AS (
              SELECT src, dst, CAST(MIN(depth) AS INT) AS min_depth
              FROM p GROUP BY src, dst
            )
            SELECT regexp_split_to_array(src, ':')[1] AS src_kind, dst, min_depth,
                   COUNT(*)::BIGINT AS n_srcs
            FROM mins GROUP BY 1, 2, 3""",
        "merge_props_upsert": """
            WITH r AS (
              SELECT c_custkey % 50 AS gid, c_mktsegment AS segs, c_acctbal AS bal,
                     CASE WHEN c_custkey < 750 THEN 1 ELSE 2 END AS seq
              FROM customer),
            m AS (SELECT gid, MAX(seq) AS mx FROM r GROUP BY gid)
            SELECT r.gid,
              array_to_string(list_sort(list_distinct(flatten(list(str_split(r.segs, ','))))), ',') AS segs,
              MAX(r.bal) FILTER (WHERE r.seq = m.mx) AS bal
            FROM r JOIN m USING (gid) GROUP BY r.gid""",
        "rdf_ntriples_parse": """
            SELECT 'urn:nation:' || n_nationkey AS subj,
                   'urn:rel:partOf' AS pred,
                   'urn:region:' || n_regionkey AS obj,
                   FALSE AS is_literal
            FROM nation
            UNION ALL
            SELECT 'urn:nation:' || n_nationkey, 'urn:prop:name', n_name, TRUE
            FROM nation""",
        "contamination_probe": f"""
            WITH p AS (SELECT unnest({_PROBES!r}) AS probe)
            SELECT p.probe,
              CAST(SUM(CASE WHEN contains({_NORM}, p.probe) THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
            FROM documents, p GROUP BY p.probe""",
        "lexical_diversity": f"""
            WITH t AS (
              SELECT source, {_TOKS} AS t FROM documents
              WHERE len({_TOKS}) > 0),
            q AS (
              SELECT source,
                CAST(round(len(list_distinct(t)) * 10000.0 / len(t), 0) AS BIGINT) AS q4
              FROM t)
            SELECT source,
              round(CAST(SUM(q4) AS DOUBLE) / (COUNT(*) * 10000), 4) AS avg_ttr,
              COUNT(*)::BIGINT AS n_docs
            FROM q GROUP BY source""",
        # hash embedding: the vector itself is a pandas-UDF output, but
        # its published invariants (unit norm for non-empty text, zero
        # for empty, fixed dim) are oracle-checkable
        "hash_embed_docs": r"""
            SELECT doc_id,
              CAST(CASE WHEN trim(text) <> '' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS l2_norm,
              CAST(32 AS INT) AS dim
            FROM documents WHERE doc_id < 200""",
    }


_R2_QUERIES = {
    "doc_parse_fields": q_doc_parse_fields,
    "doc_parse_triples": q_doc_parse_triples,
    "prefix_match_join": q_prefix_match_join,
    "path_upto3": q_path_upto3,
    "merge_props_upsert": q_merge_props_upsert,
    "rdf_ntriples_parse": q_rdf_ntriples,
    "contamination_probe": q_contamination_probe,
    "lexical_diversity": q_lexical_diversity,
}


# ---------------------------------------------------------------------------
# consolidated registries (single source of truth for the driver)
# ---------------------------------------------------------------------------

_LATE_QUERIES = {
    "hybrid_search": q_hybrid_search,
    "salted_distinct": q_salted_distinct,
    "substring_search": q_substring_search,
    "hash_embed_docs": q_hash_embed_docs,
    "ann_brute_topk_np": q_ann_brute_topk_np,
    "boilerplate_shingles": q_boilerplate_shingles,
    "ann_ivf_topk": q_ivf_topk,
}


def _late_oracles() -> dict[str, str]:
    base = _base_oracles()
    return {
        "hybrid_search": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
        s AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 {_cosine_sql('q.qv', 'e.embedding')} AS score
          FROM embeddings e, q WHERE e.label = 0 AND e.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, rank, score FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM s)
        WHERE rank <= 5""",
        "salted_distinct": """
        SELECT o_orderstatus AS status,
          array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
          COUNT(DISTINCT o_orderpriority)::BIGINT AS n_priorities
        FROM orders GROUP BY o_orderstatus""",
        "substring_search": """
        SELECT p_partkey, p_name FROM part
        WHERE contains(lower(p_name), 're')
        ORDER BY p_partkey LIMIT 25""",
        "ann_brute_topk_np": base["ann_brute_topk"],
        "boilerplate_shingles": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(t) - 2),
            i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks WHERE len(t) >= 3)
        SELECT shingle, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
        FROM sh GROUP BY shingle
        ORDER BY n_docs DESC, shingle LIMIT 15""",
        # ann_ivf_topk: round 3 — the driver query pins the coarse
        # quantizer to the deterministic seed init (iters=0), so the
        # full IVF search path (assignment argmin, nprobe probing,
        # in-cluster exact top-k) reproduces in SQL
        "ann_ivf_topk": f"""
        WITH cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        assigned AS (
          SELECT vec_id, embedding, cluster FROM (
            SELECT e.vec_id, e.embedding, ct.c AS cluster,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_sqdist_sql('e.embedding', 'ct.cv')}, ct.c) AS rn
            FROM embeddings e, cent ct) WHERE rn = 1),
        probes AS (
          SELECT query_id, qv, cluster FROM (
            SELECT e.vec_id AS query_id, e.embedding AS qv, ct.c AS cluster,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_sqdist_sql('e.embedding', 'ct.cv')}, ct.c) AS rn
            FROM embeddings e, cent ct WHERE e.vec_id < 4) WHERE rn <= 3),
        scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 {_cosine_sql('p.qv', 'a.embedding')} AS score
          FROM probes p JOIN assigned a USING (cluster)
          WHERE a.vec_id <> p.query_id)
        SELECT query_id, neighbor_id, rank, score FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        WHERE rank <= 5""",
    }


_R3_QUERIES = {
    "doc_parse_xml": q_doc_parse_xml,
    "kg_prov_rollup": q_kg_prov_rollup,
}

_R4_QUERIES = {
    "contamination_probe_ac": q_contamination_probe_ac,
    "bucket_quality_rollup": q_bucket_quality_rollup,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "dedup_cluster_assign": q_dedup_cluster_assign,
    "pii_redact": q_pii_redact,
    "simhash_near_pairs": q_simhash_near_pairs,
    "sample_exact_n": q_sample_exact_n,
}


def _pii_redact_sql(expr: str) -> str:
    """Chain the SAME PII_PATTERNS over a SQL expression (DuckDB
    regexp_replace needs the 'g' flag for global replacement)."""
    from kgflow.functions.text import PII_PATTERNS

    out = expr
    for pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def _r4_oracles() -> dict[str, str]:
    base_simhash = _base_oracles()["simhash"]
    return {
        "simhash_near_pairs": f"""
            WITH sim AS ({base_simhash}),
            bands0 AS (
              SELECT doc_id, simhash, 0 AS band_id, simhash & 63 AS band_val FROM sim
              UNION ALL
              SELECT doc_id, simhash, 1, (simhash >> 6) & 31 FROM sim
              UNION ALL
              SELECT doc_id, simhash, 2, (simhash >> 11) & 31 FROM sim
            ),
            bands AS (
              -- hot-bucket cap, mirroring simhash_near_pairs(max_bucket=500)
              SELECT doc_id, simhash, band_id, band_val FROM bands0
              QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) <= 500
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.simhash AS sa, r.simhash AS sb
              FROM bands l JOIN bands r
                ON l.band_id = r.band_id AND l.band_val = r.band_val
               AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 2""",
        "sample_exact_n": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY CAST(('0x' || substr(md5('kgflow|' || doc_id), 1, 8)) AS BIGINT),
                         doc_id) AS rn
              FROM documents)
            WHERE rn <= 5""",
        # token-boundary occurrence: the probe's tokens as a contiguous
        # token subsequence ⇔ space-padded substring of the space-padded
        # normalized text
        "contamination_probe_ac": f"""
            WITH p AS (SELECT unnest({_PROBES!r}) AS probe)
            SELECT p.probe,
              CAST(SUM(CASE WHEN contains(' ' || {_NORM} || ' ', ' ' || p.probe || ' ')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
            FROM documents, p GROUP BY p.probe""",
        "bucket_quality_rollup": r"""
            WITH d AS (
              SELECT CAST(doc_id % 8 AS INT) AS bucket, coalesce(text, '') AS t
              FROM documents
            ), q AS (
              SELECT bucket,
                len(regexp_split_to_array(lower(trim(t)), '\s+')) AS n_tok,
                len(list_distinct(regexp_split_to_array(lower(trim(t)), '\s+'))) AS n_distinct,
                CASE WHEN trim(t) = '' THEN 1 ELSE 0 END AS is_empty
              FROM d
            )
            SELECT bucket,
              round(AVG(n_tok), 2) AS avg_tokens,
              CAST(round(AVG(CASE WHEN n_tok > 0
                   THEN round(n_distinct * 10000.0 / n_tok, 0) END), 0) AS BIGINT)
                AS avg_ttr_q4,
              SUM(is_empty)::BIGINT AS empty_turns
            FROM q GROUP BY bucket""",
        # md5-threshold sampling: first 8 hex chars parse identically on
        # both engines; CASE mirrors stratified_hash_sample's rate map
        "stratified_sample": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                CAST(('0x' || substr(md5('kgflow|' || doc_id), 1, 8)) AS BIGINT) AS h,
                CASE source
                  WHEN 'src0' THEN {int(_STRAT_RATES["src0"] * (1 << 32))}
                  WHEN 'src1' THEN {int(_STRAT_RATES["src1"] * (1 << 32))}
                  ELSE {int(_STRAT_DEFAULT * (1 << 32))} END AS thr
              FROM documents)
            WHERE h < thr""",
        "pack_sequences": f"""
            WITH d AS (
              SELECT source, doc_id,
                len({_TOKS}) AS n_tokens
              FROM documents
            ), c AS (
              SELECT source, doc_id, n_tokens,
                coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM d)
            SELECT source, doc_id, n_tokens,
              CAST(floor(cum / 512.0) AS BIGINT) AS bin_id,
              CAST(cum % 512 AS BIGINT) AS bin_offset
            FROM c""",
        # transitive closure over the verified pair graph via recursive
        # CTE (pair graphs are tiny at oracle scale); min reachable id
        # = the cluster representative, exactly connected_components
        "dedup_cluster_assign": _minhash_cte().replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
            , verified AS (
              SELECT p.id_a, p.id_b FROM pairs p
              JOIN sh a ON a.doc_id = p.id_a
              JOIN sh b ON b.doc_id = p.id_b
              WHERE len(list_intersect(a.shingles, b.shingles)) * 100 >=
                    len(list_distinct(list_concat(a.shingles, b.shingles))) * 50
            ), und AS (
              SELECT id_a AS u, id_b AS v FROM verified
              UNION SELECT id_b AS u, id_a AS v FROM verified
            ), reach(u, l) AS (
              SELECT u, u FROM und
              UNION
              SELECT und.u, reach.l FROM und JOIN reach ON reach.u = und.v
            ), comp AS (
              SELECT u AS id, MIN(l) AS rep FROM reach GROUP BY u
            )
            SELECT d.doc_id,
              coalesce(c.rep, d.doc_id) AS cluster_rep,
              coalesce(c.rep, d.doc_id) = d.doc_id AS is_rep
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""",
        "pii_redact": f"""
            SELECT c_custkey, {_pii_redact_sql(
                "'contact ' || c_name || ' at user' || c_custkey"
                " || '@example.org, see https://ex.com/p/' || c_custkey"
                " || ' ip 10.0.' || (c_custkey % 256) || '.' || c_nationkey"
                " || ' tel 555-010-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
            )} AS redacted
            FROM customer""",
    }


# ---------------------------------------------------------------------------
# round 5: corpus-scale SimHash width + observable LSH caps
# ---------------------------------------------------------------------------


def q_simhash64(spark, sf):
    """64-bit SimHash signature — the corpus-scale width (a 16-bit
    space cannot separate 10⁸⁺ documents; every band bucket saturates).
    Two uniform bits per md5 nibble, signed-long packing (bit 64 at
    weight −2⁶³). dedup.simhash64; zero shuffle, pure codegen."""
    return dedup.simhash64(_t(spark, sf, "documents"))


def q_simhash64_near_pairs(spark, sf):
    """SimHash near-pairs at the corpus-scale configuration: 64-bit
    signatures, hamming ≤ 3 via 4 pigeonhole bands of 16 bits,
    bit_count(xor) exact verify. dedup.simhash_near_pairs(bits=64)."""
    return dedup.simhash_near_pairs(
        _t(spark, sf, "documents"), max_hamming=3, bits=64
    )


def q_lsh_cap_stats(spark, sf):
    """No-silent-caps observability: for both LSH tiers at max_bucket=3
    (small enough that the cap bites on this corpus), how many buckets
    the hot-bucket cap drops, how many band rows they held, and how
    many documents lose EVERY band (total recall loss).
    dedup.minhash_cap_stats / simhash_cap_stats."""
    d = _t(spark, sf, "documents")
    m = dedup.minhash_cap_stats(d, max_bucket=3).withColumn(
        "tier", F.lit("minhash")
    )
    s = dedup.simhash_cap_stats(d, max_bucket=3).withColumn(
        "tier", F.lit("simhash16")
    )
    return m.unionByName(s).select(
        "tier", "n_buckets", "n_capped_buckets", "n_rows_dropped",
        "n_docs_fully_excluded",
    )


# shared by the Spark query and the DuckDB oracle so the two can never
# disagree on the mixture definition
_MIX_WEIGHTS = {"src0": 2.0, "src1": 1.0, "src2": 1.0}
_MIX_BUDGET = 20_000


def q_source_mix_plan(spark, sf):
    """Domain-mixing plan (sample.source_mix_plan): per-source
    available tokens, target share of a 20k-token budget at weights
    2:1:1, and the derived keep rate. src0's target exceeds its supply
    at sf0.01, pinning its rate at 1 — the under-supplied-source case
    made visible (no-silent-caps)."""
    from kgflow.operators import sample

    return sample.source_mix_plan(
        _t(spark, sf, "documents"), _MIX_WEIGHTS, _MIX_BUDGET
    )


def q_source_mix(spark, sf):
    """Token-budget mixture sampling (sample.source_mix_sample): keep
    each source's deterministic md5-threshold fraction sized so its
    expected token volume hits budget · weight / Σweights. Same hash
    family as every sampler, so mixes compose with uniform/stratified
    samples."""
    from kgflow.operators import sample

    return sample.source_mix_sample(
        _t(spark, sf, "documents"), _MIX_WEIGHTS, _MIX_BUDGET
    ).select("doc_id", "source", "n_tokens")


def q_paragraph_dedup(spark, sf):
    """C4/CCNet-style boilerplate removal (dedup.paragraph_dedup):
    corpus-wide exact paragraph dedup keeping only the first
    occurrence — smallest (doc_id, position) — of each distinct unit,
    then reassembling documents from their surviving units in order.
    The synthetic corpus has no blank-line structure, so the demo
    splits on the corpus's most frequent stopword (' the '), making
    multi-word chunks the dedup unit; the plumbing — split,
    posexplode, map-side-combining first-occurrence aggregate,
    joinless reassembly — is identical at any unit size."""
    return dedup.paragraph_dedup(
        _t(spark, sf, "documents"), sep=" the ", join_sep=" the "
    )


def _cc_retract_inputs(spark, sf):
    """(edges, removed) for the cc_retract fixture — shared by the
    oracle query (which builds the base mapping inline) and the bench
    (which persists the base mapping across trials, the deployment
    shape: the mapping is maintained state, not per-drop work)."""
    k = F.col("k")
    base = (
        _t(spark, sf, "part")
        .select(F.col("p_partkey").alias("k"))
        .filter((k % 10) != 0)
    )
    pid = lambda c: F.concat(F.lit("P"), c.cast("string"))
    edges = base.select(pid(k).alias("id_a"), pid(k + 1).alias("id_b"))
    removed = base.filter(((k % 10) == 5) | ((k % 50) == 1)).select(
        pid(k + 1).alias("id_a"), pid(k).alias("id_b")
    )
    return edges, removed


def q_cc_retract(spark, sf):
    """Retraction-aware incremental CC (canon.retract_components):
    deterministic same-as chains over part keys (edge k→k+1 unless
    k%10==0: chains of ten), then the k%10==5 links are withdrawn
    (every chain splits in two) and the k%50==1 links too (isolating
    each affected chain head as a singleton that keeps its mapping
    row). The retraction list arrives in REVERSED orientation to
    exercise the unordered-pair matching. Oracle: recursive-CTE
    closure over the surviving edges + self-rows for edge-less nodes."""
    from kgflow.operators import canon

    edges, removed = _cc_retract_inputs(spark, sf)
    m0 = canon.connected_components(edges)
    return canon.retract_components(m0, edges, removed)


# shared by the Spark query and the DuckDB oracle; thresholds chosen to
# split the sf0.01 corpus (tokens 10-99, avg len 3.7-5.3, dup 0-0.72)
# across several failure reasons
_QG_RULES = {
    "min_tokens": 20,
    "max_tokens": 80,
    "min_avg_token_len": 4.0,
    "max_avg_token_len": 5.0,
    "max_dup_token_frac": 0.5,
    "min_stopword_ratio": 0.01,
}


def q_quality_gate(spark, sf):
    """One-pass Gopher-rule quality gate (quality.quality_gate):
    per-doc sorted array of FAILED rule names plus the derived keep
    flag — filtering and the drop-audit report are the same narrow
    scan (no silent drops). The operator itself stays shuffle-free;
    the query spreads its input (``util.spread``) so the rule
    expressions run on all cores."""
    from kgflow.operators import quality

    return quality.quality_gate(spread(_t(spark, sf, "documents")), _QG_RULES)


def q_lm_quality_score(spark, sf):
    """Unigram cross-entropy quality score
    (quality.ngram_logprob_score, n=1): corpus-fit token log-probs,
    per-doc mean via an exact scaled-integer sum (no float summation-
    order drift), the CCNet perplexity-filter signal at n=1."""
    from kgflow.operators import quality

    return quality.ngram_logprob_score(_t(spark, sf, "documents"), 1)


def q_bigram_lm_score(spark, sf):
    """Stupid-backoff bigram LM quality score
    (quality.ngram_logprob_score, n=2): fit on the deterministic 50%
    hash sample, score the FULL corpus — every bigram the sample
    missed exercises the backoff branch live. Scaled-integer sums
    keep the mean exact across engines."""
    from kgflow.operators import quality, sample

    docs = _t(spark, sf, "documents")
    return quality.ngram_logprob_score(
        docs, 2, fit_docs=sample.hash_sample(docs, 0.5)
    ).withColumnRenamed("lm_score", "bigram_lm_score")


def q_data_prep_pipeline(spark, sf):
    """The training-data prep DAG: quality gate (zero-shuffle scan) →
    token-budget source mixing (aggregate + broadcast-joined rates,
    measured on the GATED subset — mix what you actually have) →
    sequence packing into 512-token bins (one window per source
    stream). The gate is a pure row predicate, so survivors come from
    ONE narrow filter (quality.quality_keep) instead of the earlier
    gate-frame → id broadcast-join round trip, and neither the mix nor
    the pack reads text, so the filter projects straight to the narrow
    decision columns (doc_id, source, n_tokens) — guide §8: decide on
    small proxies."""
    from kgflow.functions import text as tx
    from kgflow.operators import quality, sample

    docs = spread(_t(spark, sf, "documents"))
    kept = docs.filter(quality.quality_keep(_QG_RULES)).select(
        "doc_id", "source", tx.token_count("text").cast("long").alias("n_tokens")
    )
    mixed = sample.source_mix_sample(
        kept, _MIX_WEIGHTS, _MIX_BUDGET, n_tokens_col="n_tokens"
    )
    return sample.pack_sequences(mixed, budget=512, n_tokens_col="n_tokens")


def q_repetition_stats(spark, sf):
    """Gopher-style repetition quality profile
    (quality.repetition_stats): per-doc duplicate-token fraction
    (in-row) and most-frequent bigram with its token-coverage
    fraction — the filterable repetition signals of Rae et al. 2021
    §A1.1. Two map-side-combining aggregates; the shuffle carries one
    row per distinct (doc, bigram)."""
    from kgflow.operators import quality

    return quality.repetition_stats(_t(spark, sf, "documents"), n=2)


_R5_QUERIES = {
    "simhash64": q_simhash64,
    "simhash64_near_pairs": q_simhash64_near_pairs,
    "lsh_cap_stats": q_lsh_cap_stats,
    "cc_retract": q_cc_retract,
    "paragraph_dedup": q_paragraph_dedup,
    "source_mix_plan": q_source_mix_plan,
    "source_mix": q_source_mix,
    "repetition_stats": q_repetition_stats,
    "quality_gate": q_quality_gate,
    "data_prep_pipeline": q_data_prep_pipeline,
    "lm_quality_score": q_lm_quality_score,
    "bigram_lm_score": q_bigram_lm_score,
}


def _simhash64_cte() -> str:
    """documents → (doc_id, simhash) over the 64-bit signature; exact
    mirror of dedup.simhash64's bit mapping."""
    nib = "strpos('0123456789abcdef', substr(h, CAST((i + 1) // 2 AS INT), 1))"
    return f"""
WITH toks64 AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
h64 AS (SELECT doc_id, md5(tok) AS h FROM toks64),
pos64 AS (SELECT doc_id, h, unnest(generate_series(1, 64)) AS i FROM h64),
contrib64 AS (
  SELECT doc_id, i,
    CASE WHEN i % 2 = 1
         THEN CASE WHEN {nib} >= 9 THEN 1 ELSE -1 END
         ELSE CASE WHEN ({nib} - 1) % 8 >= 4 THEN 1 ELSE -1 END
    END AS c
  FROM pos64),
bits64 AS (SELECT doc_id, i, SUM(c) AS s FROM contrib64 GROUP BY doc_id, i),
sim64 AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN
        CASE WHEN i = 64 THEN (-9223372036854775807 - 1)
             ELSE (1::BIGINT << CAST(i - 1 AS INT)) END
        ELSE 0 END) AS BIGINT) AS simhash
  FROM bits64 GROUP BY doc_id
)"""


def _cap_stats_sql(bands_sql: str, key_expr: str, cap: int, tier: str) -> str:
    """Aggregate a (doc_id, band_id, <key>) band set into the one-row
    cap report, mirroring dedup._cap_stats."""
    return f"""
SELECT '{tier}' AS tier,
       n_buckets, n_capped_buckets, n_rows_dropped, n_docs_fully_excluded
FROM (
  SELECT COUNT(*)::BIGINT AS n_buckets,
         CAST(SUM(CASE WHEN bn > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_buckets,
         CAST(SUM(CASE WHEN bn > {cap} THEN bn ELSE 0 END) AS BIGINT) AS n_rows_dropped
  FROM (SELECT band_id, {key_expr}, COUNT(*) AS bn FROM ({bands_sql}) GROUP BY 1, 2)
) b, (
  SELECT CAST(SUM(CASE WHEN nb = nh THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fully_excluded
  FROM (
    SELECT doc_id, COUNT(*) AS nb,
           SUM(CASE WHEN bn > {cap} THEN 1 ELSE 0 END) AS nh
    FROM (
      SELECT doc_id, band_id, {key_expr},
             COUNT(*) OVER (PARTITION BY band_id, {key_expr}) AS bn
      FROM ({bands_sql})
    ) GROUP BY doc_id
  )
) d"""


def _mix_target_sql() -> str:
    """budget · weight / Σweights as a SQL CASE whose constants are the
    exact Python floats _mix_target folds into Spark literals. The CASE
    is cast to DOUBLE because DuckDB types dotted literals as DECIMAL —
    which would reach Python as decimal.Decimal and hash differently."""
    wsum = float(sum(_MIX_WEIGHTS.values()))
    arms = " ".join(
        f"WHEN '{k}' THEN {_MIX_BUDGET * v / wsum!r}"
        for k, v in sorted(_MIX_WEIGHTS.items())
    )
    return f"CAST((CASE source {arms} ELSE 0.0 END) AS DOUBLE)"


def _r5_oracles() -> dict[str, str]:
    base_simhash = _base_oracles()["simhash"]
    sim64 = _simhash64_cte()
    minhash_bands = (
        _minhash_bands_cte() + "\nSELECT doc_id, band_id, band_key FROM bands"
    )
    simhash16_bands = f"""
        WITH sim AS ({base_simhash})
        SELECT doc_id, 0 AS band_id, simhash & 63 AS band_val FROM sim
        UNION ALL
        SELECT doc_id, 1, (simhash >> 6) & 31 FROM sim
        UNION ALL
        SELECT doc_id, 2, (simhash >> 11) & 31 FROM sim"""
    return {
        "simhash64": sim64 + "\nSELECT doc_id, simhash FROM sim64",
        # 4 pigeonhole bands of 16 bits (arithmetic shift + mask is
        # sign-safe), hot-bucket cap 500, bit_count(xor) <= 3 verify
        "simhash64_near_pairs": sim64
        + """,
            bands0 AS (
              SELECT doc_id, simhash, 0 AS band_id, simhash & 65535 AS band_val FROM sim64
              UNION ALL
              SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM sim64
              UNION ALL
              SELECT doc_id, simhash, 2, (simhash >> 32) & 65535 FROM sim64
              UNION ALL
              SELECT doc_id, simhash, 3, (simhash >> 48) & 65535 FROM sim64
            ),
            bands AS (
              SELECT doc_id, simhash, band_id, band_val FROM bands0
              QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) <= 500
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.simhash AS sa, r.simhash AS sb
              FROM bands l JOIN bands r
                ON l.band_id = r.band_id AND l.band_val = r.band_val
               AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3""",
        "lsh_cap_stats": (
            _cap_stats_sql(minhash_bands, "band_key", 3, "minhash")
            + "\nUNION ALL\n"
            + _cap_stats_sql(simhash16_bands, "band_val", 3, "simhash16")
        ),
        # min-label closure over the SURVIVING chain edges; nodes whose
        # every edge was withdrawn fall back to themselves via the LEFT
        # JOIN — exactly retract_components' singleton semantics.
        # (Non-recursive CTEs here avoid bare two-branch UNION: under
        # WITH RECURSIVE, DuckDB 1.0 treats that shape as a recursive
        # fixpoint and skips the cross-branch dedup.)
        "cc_retract": """
            WITH RECURSIVE base AS (
              SELECT p_partkey AS k FROM part WHERE p_partkey % 10 <> 0
            ), surv AS (
              SELECT 'P' || CAST(k AS VARCHAR) AS a,
                     'P' || CAST(k + 1 AS VARCHAR) AS b
              FROM base WHERE k % 10 <> 5 AND k % 50 <> 1
            ), nodes AS (
              SELECT DISTINCT id FROM (
                SELECT 'P' || CAST(k AS VARCHAR) AS id FROM base
                UNION ALL
                SELECT 'P' || CAST(k + 1 AS VARCHAR) FROM base)
            ), und AS (
              SELECT a AS u, b AS v FROM surv
              UNION ALL SELECT b AS u, a AS v FROM surv
            ), reach(u, l) AS (
              SELECT u, u FROM und
              UNION
              SELECT und.u, reach.l FROM und JOIN reach ON reach.u = und.v
            ), comp AS (
              SELECT u AS id, MIN(l) AS rep FROM reach GROUP BY u
            )
            SELECT n.id, coalesce(c.rep, n.id) AS canonical_id
            FROM nodes n LEFT JOIN comp c ON c.id = n.id""",
        # first-occurrence = ROW_NUMBER over (doc_id, pos) — the
        # window form mirrors Spark's min(struct) exactly because
        # (doc_id, pos) is unique
        "paragraph_dedup": """
            WITH parts AS (
              SELECT doc_id, unnest(arr) AS para,
                     unnest(generate_series(0, len(arr) - 1)) AS pos
              FROM (SELECT doc_id, regexp_split_to_array(text, ' the ') AS arr
                    FROM documents)
            ), np AS (
              SELECT * FROM parts WHERE trim(para) <> ''
            ), k AS (
              SELECT doc_id, pos, para,
                     ROW_NUMBER() OVER (PARTITION BY para
                                        ORDER BY doc_id, pos) AS rn
              FROM np
            )
            SELECT doc_id,
                   string_agg(para, ' the ' ORDER BY pos) AS text,
                   COUNT(*)::BIGINT AS n_kept
            FROM k WHERE rn = 1 GROUP BY doc_id""",
        # the python-side target constants below are the SAME floats
        # _mix_target folds into Spark literals, so the IEEE division
        # and floor(threshold) agree bit-for-bit across engines
        "source_mix_plan": f"""
            WITH tok AS (
              SELECT source, len({_TOKS}) AS n FROM documents
            ), tot AS (
              SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens_total
              FROM tok GROUP BY source
            )
            SELECT source, n_tokens_total,
              round({_mix_target_sql()}, 2) AS target_tokens,
              round(least(1.0, {_mix_target_sql()} / n_tokens_total), 6)
                AS rate
            FROM tot""",
        "source_mix": f"""
            WITH tok AS (
              SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            ), tot AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS nt
              FROM tok GROUP BY source
            ), thr AS (
              SELECT source,
                CAST(floor(least(1.0, {_mix_target_sql()} / nt)
                           * 4294967296.0) AS BIGINT) AS thr
              FROM tot
            )
            SELECT t.doc_id, t.source, t.n_tokens
            FROM tok t JOIN thr USING (source)
            WHERE CAST(('0x' || substr(md5('kgflow|' || t.doc_id), 1, 8))
                       AS BIGINT) < thr.thr""",
        # tie-break mirrors Spark's max(struct(c, ng)): count DESC then
        # gram DESC — row_number picks the same winner
        "repetition_stats": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), base AS (
              SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 6) AS dup_token_frac,
                list_transform(generate_series(1, len(t) - 1),
                               i -> array_to_string(t[i:i+1], ' ')) AS ngs
              FROM toks WHERE len(t) >= 2
            ), cnt AS (
              SELECT doc_id, n_tokens, dup_token_frac, ng,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT doc_id, n_tokens, dup_token_frac,
                           unnest(ngs) AS ng FROM base) u
              GROUP BY ALL
            ), rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY c DESC, ng DESC) AS rn
              FROM cnt
            )
            SELECT doc_id, n_tokens, dup_token_frac, ng AS top_ngram,
                   c AS top_ngram_count,
                   round(least(1.0, c * 2.0 / n_tokens), 6) AS top_ngram_frac
            FROM rk WHERE rn = 1""",
        "quality_gate": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), sig AS (
              SELECT doc_id,
                CAST(len(t) AS BIGINT) AS n,
                list_sum(list_transform(t, x -> len(x))) / len(t) AS avg_len,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 6) AS dup,
                len(list_filter(t, x -> list_contains({_sw_list()}, x)))
                  / len(t) AS swr
              FROM t
            ), rs AS (
              SELECT doc_id, list_sort(list_filter([
                  CASE WHEN n < {_QG_RULES["min_tokens"]} THEN 'min_tokens' END,
                  CASE WHEN n > {_QG_RULES["max_tokens"]} THEN 'max_tokens' END,
                  CASE WHEN avg_len < {_QG_RULES["min_avg_token_len"]!r}
                       THEN 'min_avg_token_len' END,
                  CASE WHEN avg_len > {_QG_RULES["max_avg_token_len"]!r}
                       THEN 'max_avg_token_len' END,
                  CASE WHEN dup > {_QG_RULES["max_dup_token_frac"]!r}
                       THEN 'max_dup_token_frac' END,
                  CASE WHEN swr < {_QG_RULES["min_stopword_ratio"]!r}
                       THEN 'min_stopword_ratio' END
                ], x -> x IS NOT NULL)) AS reasons
              FROM sig
            )
            SELECT doc_id, reasons, len(reasons) = 0 AS keep FROM rs""",
        # gate -> mix -> pack chained as CTEs; keep is the negation of
        # every quality_gate rule, mix rates are measured on the GATED
        # subset, packing is the exclusive-prefix-sum rule at 512
        "data_prep_pipeline": f"""
            WITH t AS (
              SELECT doc_id, source, {_TOKS} AS t FROM documents
            ), sig AS (
              SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(len(t) AS BIGINT) AS n,
                list_sum(list_transform(t, x -> len(x))) / len(t) AS avg_len,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 6) AS dup,
                len(list_filter(t, x -> list_contains({_sw_list()}, x)))
                  / len(t) AS swr
              FROM t
            ), kept AS (
              SELECT doc_id, source, n_tokens FROM sig
              WHERE n >= {_QG_RULES["min_tokens"]}
                AND n <= {_QG_RULES["max_tokens"]}
                AND avg_len >= {_QG_RULES["min_avg_token_len"]!r}
                AND avg_len <= {_QG_RULES["max_avg_token_len"]!r}
                AND dup <= {_QG_RULES["max_dup_token_frac"]!r}
                AND swr >= {_QG_RULES["min_stopword_ratio"]!r}
            ), tot AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS nt
              FROM kept GROUP BY source
            ), thr AS (
              SELECT source,
                CAST(floor(least(1.0, {_mix_target_sql()} / nt)
                           * 4294967296.0) AS BIGINT) AS thr
              FROM tot
            ), mixed AS (
              SELECT k.source, k.doc_id, k.n_tokens
              FROM kept k JOIN thr USING (source)
              WHERE CAST(('0x' || substr(md5('kgflow|' || k.doc_id), 1, 8))
                         AS BIGINT) < thr.thr
            ), cum AS (
              SELECT source, doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS c
              FROM mixed
            )
            SELECT source, doc_id, n_tokens,
                   CAST(floor(c / 512) AS BIGINT) AS bin_id,
                   CAST(c % 512 AS BIGINT) AS bin_offset
            FROM cum""",
        # per-token log-probs scaled to integers BEFORE the per-doc
        # sum, exactly like the Spark side — the aggregate is an exact
        # integer sum in both engines
        "lm_quality_score": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), freq AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM toks GROUP BY tok
            ), tot AS (
              SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq
            ), lp AS (
              SELECT tok,
                CAST(round(log10(c / n) * 1000000, 0) AS BIGINT) AS lp6
              FROM freq, tot
            ), sc AS (
              SELECT t.doc_id, lp6 FROM toks t JOIN lp USING (tok)
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(SUM(lp6) / (COUNT(*) * 1000000.0), 4) AS lm_score
            FROM sc GROUP BY doc_id""",
        # stupid-backoff bigram LM, fit on the 50% hash sample (the
        # same md5-threshold membership as hash_sample): DuckDB zips
        # the two unnests positionally, giving the same (prev, cur)
        # stream as Spark's arrays_zip of the shifted slice
        "bigram_lm_score": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), fit AS (
              SELECT t FROM toks
              WHERE CAST(('0x' || substr(md5('kgflow|' || doc_id), 1, 8))
                         AS BIGINT) < 2147483648
            ), fpair AS (
              SELECT unnest(list_prepend(CAST(NULL AS VARCHAR),
                                         t[1:len(t)-1])) AS prev,
                     unnest(t) AS cur
              FROM fit
            ), uni AS (
              SELECT cur AS tok, CAST(COUNT(*) AS BIGINT) AS cu
              FROM fpair GROUP BY cur
            ), tot AS (
              SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uni
            ), big AS (
              SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
              FROM fpair WHERE prev IS NOT NULL GROUP BY prev, cur
            ), spair AS (
              SELECT doc_id,
                     unnest(list_prepend(CAST(NULL AS VARCHAR),
                                         t[1:len(t)-1])) AS prev,
                     unnest(t) AS cur
              FROM toks
            ), sc AS (
              SELECT s.doc_id, CAST(round(
                CASE
                  WHEN s.prev IS NULL THEN
                    log10(COALESCE(CAST(uc.cu AS DOUBLE), 0.5) / tot.n)
                  WHEN b.cb IS NOT NULL THEN
                    log10(b.cb / CAST(up.cu AS DOUBLE))
                  ELSE
                    log10(CAST(0.4 AS DOUBLE)
                          * COALESCE(CAST(uc.cu AS DOUBLE), 0.5) / tot.n)
                END * 1000000, 0) AS BIGINT) AS lp6
              FROM spair s
              LEFT JOIN big b ON s.prev = b.prev AND s.cur = b.cur
              LEFT JOIN uni up ON s.prev = up.tok
              LEFT JOIN uni uc ON s.cur = uc.tok
              CROSS JOIN tot
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(SUM(lp6) / (COUNT(*) * 1000000.0), 4)
                     AS bigram_lm_score
            FROM sc GROUP BY doc_id""",
    }


def q_data_prep_pipeline_dedup(spark, sf):
    """Production curation order: gate → exact-dedup keep-reps → mix →
    pack. The synthetic corpus is duplicate-free,
    so the query injects a deterministic duplicate shard (every 5th doc
    re-keyed +100000 — the shape of a backfill double-load) and the
    dedup stage must collapse each fingerprint group to its min-id
    representative BEFORE the mix measures token supply — duplicates
    would otherwise inflate a source's measured tokens and depress
    every rate. Dedup is joinless: one min_by(struct) aggregate on the
    16-byte fingerprint key (no window, no re-join), the same shape at
    any corpus size."""
    from pyspark.sql import functions as F

    from kgflow.functions import text as tx
    from kgflow.operators import quality, sample

    docs = _t(spark, sf, "documents")
    dup = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    # spread before the gate/fingerprint passes
    corpus = spread(docs.unionByName(dup))
    # the gate is a pure row predicate (quality.quality_keep): one
    # narrow filter replaces the gate-frame → id join, projecting
    # straight to the narrow decision columns the dedup/mix/pack need
    kept = corpus.filter(quality.quality_keep(_QG_RULES)).select(
        "doc_id",
        "source",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.fingerprint("text").alias("fp"),
    )
    reps = (
        kept.groupBy("fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "n_tokens"), F.col("doc_id")
            ).alias("r")
        )
        .select("r.doc_id", "r.source", "r.n_tokens")
    )
    mixed = sample.source_mix_sample(
        reps, _MIX_WEIGHTS, _MIX_BUDGET, n_tokens_col="n_tokens"
    )
    return sample.pack_sequences(mixed, budget=512, n_tokens_col="n_tokens")


def q_image_phash(spark, sf):
    """64-bit image average-hash (multimodal.image_average_hash): PNG
    header payloads built JVM-side, parsed byte-for-byte in an Arrow-
    batched mapInPandas, stub pixel decode (no codec in the container;
    deterministic function of the parsed header), mean-threshold bits,
    signed-long packing. One narrow map — payload bytes never leave
    the executor."""
    from kgflow.operators import multimodal

    d = _t(spark, sf, "documents").select(
        "doc_id", multimodal.synth_png_payload("doc_id").alias("payload")
    )
    return multimodal.image_average_hash(d)


def q_image_phash_pairs(spark, sf):
    """Image near-dup pairs: hamming ≤ 3 on the 64-bit aHash via the
    SAME pigeonhole banding + hot-bucket cap + bit_count(xor) verify
    as the text SimHash tiers (dedup.signature_near_pairs) — dedup is
    one machinery across modalities."""
    from kgflow.operators import multimodal

    d = _t(spark, sf, "documents").select(
        "doc_id", multimodal.synth_png_payload("doc_id").alias("payload")
    )
    return multimodal.phash_near_pairs(d)


def q_image_resize(spark, sf):
    """Aspect-preserving fit-into-box resize (multimodal.image_resize):
    PNG header parse + pure-integer target dims + 4x4 nearest-neighbor
    luminance thumbnail off the decoded grid. One Arrow-batched narrow
    map — the resize plumbing of the multimodal family."""
    from kgflow.operators import multimodal

    d = _t(spark, sf, "documents").select(
        "doc_id", multimodal.synth_png_payload("doc_id").alias("payload")
    )
    return multimodal.image_resize(d)


def q_video_frame_sample(spark, sf):
    """Uniform video frame sampling (multimodal.video_frame_sample):
    container header parse, endpoint-inclusive k*(n-1)//(k_max) frame
    selection BEFORE any per-frame decode, one row per selected frame.
    Narrow map, <= 8 rows out per clip."""
    from kgflow.operators import multimodal

    d = _t(spark, sf, "documents").select(
        "doc_id", multimodal.synth_video_payload("doc_id").alias("payload")
    )
    return multimodal.video_frame_sample(d)


def q_audio_frame_energy(spark, sf):
    """Per-frame audio energy (multimodal.audio_frame_energy): real
    little-endian int16 PCM decode via numpy.frombuffer, 128-sample
    full frames, exact-integer sum-of-squares + peak — the
    VAD/clipping signals an audio curation gate filters on. Payload
    synthesis uses the byte-identical vectorized builder
    (synth_pcm_payload_py) behind ``util.spread`` — the JVM
    per-sample hex expression in a single-split scan task was the
    query's dominant cost."""
    from kgflow.operators import multimodal

    d = spread(_t(spark, sf, "documents").select("doc_id"))
    return multimodal.audio_frame_energy(multimodal.synth_pcm_payload_py(d))


def q_trigram_lm_score(spark, sf):
    """Stupid-backoff trigram LM with a PRUNED count table
    (quality.ngram_logprob_score, n=3): fit on the deterministic 50%
    hash sample with singleton trigrams pruned (min_count=2), score
    the FULL corpus — so the pruned-trigram, seen-bigram, and
    unigram-floor backoff branches all fire live. Pruning is the
    KenLM-style lever that keeps the web-scale trigram table
    proportional to the head of the Zipf distribution."""
    from kgflow.operators import quality, sample

    docs = _t(spark, sf, "documents")
    return quality.ngram_logprob_score(
        docs, 3, fit_docs=sample.hash_sample(docs, 0.5), prune_min_count=2
    ).withColumnRenamed("lm_score", "trigram_lm_score")


def q_trigram_prune_stats(spark, sf):
    """Prune observability (quality.trigram_prune_stats): trigram
    types/mass kept vs dropped at min_count=2 over the full corpus —
    the check that the Zipf asymmetry (most TYPES dropped, little
    MASS dropped) actually holds before trusting the pruned scorer.
    Same no-silent-caps contract as lsh_cap_stats."""
    from kgflow.operators import quality

    return quality.trigram_prune_stats(
        _t(spark, sf, "documents"), prune_min_count=2
    )


def q_tfidf_top_terms(spark, sf):
    """Per-document top-5 TF-IDF keywords (extract.tfidf_top_terms):
    integer idf6 = round(log10(N/df)*1e6) per TERM, exact integer
    tf*idf6 scores, ties toward the smallest term — deterministic
    across engines. The rank<=k filter compiles to a
    WindowGroupLimit, so partitions keep at most k rows per doc
    before the window shuffle."""
    from kgflow.operators import extract

    return extract.tfidf_top_terms(_t(spark, sf, "documents"), k=5)


def q_chunk_documents(spark, sf):
    """Sliding-window training chunks (sample.chunk_documents): 64-token
    windows at stride 48 (overlap 16) — tokenize once, indexed
    transform over stride-spaced starts, one explode. Zero shuffle,
    zero UDF; the trailing chunk keeps its natural shorter length."""
    from kgflow.operators import sample

    return sample.chunk_documents(
        _t(spark, sf, "documents"), chunk_tokens=64, stride=48
    )


def q_dedup_delta(spark, sf):
    """Batch-vs-store deduplication (dedup.dedup_delta): the store is
    75% of the corpus distilled to fingerprint + 8 minhash components
    (~300 B/doc, NO text retained); the delta batch mixes fresh docs,
    re-keyed exact copies, and re-keyed near copies (one appended
    token). Exact tier = fingerprint shuffle join; near tier = band
    join against the store's signature bands + >=6/8 component
    agreement. Nothing corpus-sized is broadcast or re-read as text —
    the per-crawl-drop shape at 100 TB."""
    from pyspark.sql import functions as F

    from kgflow.operators import dedup

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    store_docs = docs.filter(F.col("doc_id") % 4 != 0)
    # the store is consumed three times (exact-tier fingerprint join,
    # signature bands, agreement verify); lazy-materialize it once —
    # in production it IS a materialized table, so this also mirrors
    # the deployment shape instead of rebuilding signatures per use
    store = dedup.build_dedup_store(store_docs).localCheckpoint(eager=False)
    delta = (
        store_docs.filter(F.col("doc_id") % 10 == 1)
        .select((F.col("doc_id") + 200000).alias("doc_id"), "text")
        .unionByName(
            store_docs.filter(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
            )
        )
        .unionByName(docs.filter(F.col("doc_id") % 4 == 0))
    )
    return dedup.dedup_delta(delta, store)


def q_quality_curriculum_sample(spark, sf):
    """Quality-bucketed curriculum sampling: unigram LM score → exact
    quartile thresholds via ONE 1-row percentile aggregate (broadcast
    back — no global sort/ntile, which would single-partition the
    corpus at scale) → per-bucket deterministic hash rates (keep 10%
    of the worst quartile, 50%, 90%, 100% of the best). The same
    md5-threshold membership as every other sampler, so curriculum
    and mixture decisions can never desynchronize."""
    from pyspark.sql import functions as F

    from kgflow.operators import quality
    from kgflow.operators.sample import _HASH_SPACE, _hash32

    # NOTE: the scores frame feeds both the percentile aggregate and
    # the bucketing join; a lazy localCheckpoint barrier was measured
    # here and REJECTED — Dataset.localCheckpoint's construction cost
    # (toRdd planning/broadcast build) equals the saved recompute at
    # this plan size, and regresses sf0.1
    scores = quality.ngram_logprob_score(_t(spark, sf, "documents"), 1)
    qs = scores.agg(
        F.round(F.expr("percentile(lm_score, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(lm_score, 0.5)"), 6).alias("q2"),
        F.round(F.expr("percentile(lm_score, 0.75)"), 6).alias("q3"),
    )
    b = scores.crossJoin(F.broadcast(qs)).select(
        "doc_id",
        "lm_score",
        F.when(F.col("lm_score") <= F.col("q1"), 1)
        .when(F.col("lm_score") <= F.col("q2"), 2)
        .when(F.col("lm_score") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("bucket"),
    )
    rate = (
        F.when(F.col("bucket") == 1, F.lit(0.1))
        .when(F.col("bucket") == 2, F.lit(0.5))
        .when(F.col("bucket") == 3, F.lit(0.9))
        .otherwise(F.lit(1.0))
    )
    return b.filter(
        _hash32(F.col("doc_id"), "kgflow") < rate * F.lit(float(_HASH_SPACE))
    ).select("doc_id", "bucket", "lm_score")


_R6_QUERIES = {
    "data_prep_pipeline_dedup": q_data_prep_pipeline_dedup,
    "quality_curriculum_sample": q_quality_curriculum_sample,
    "trigram_lm_score": q_trigram_lm_score,
    "trigram_prune_stats": q_trigram_prune_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "chunk_documents": q_chunk_documents,
    "dedup_delta": q_dedup_delta,
    "image_phash": q_image_phash,
    "image_phash_pairs": q_image_phash_pairs,
    "image_resize": q_image_resize,
    "video_frame_sample": q_video_frame_sample,
    "audio_frame_energy": q_audio_frame_energy,
}

# pixel stub + aHash mirrored cell-for-cell: dims from doc_id, class
# pattern + fine-position flip, mean threshold, signed-64 packing
_PHASH_SIG_SQL = """
WITH dims AS (
  SELECT doc_id, 64 + doc_id % 192 AS w, 64 + (doc_id * 7) % 128 AS h
  FROM documents
), cells AS (
  SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS c FROM dims
), pix AS (
  SELECT doc_id, w, h, c,
    200 * xor((((w // 8) * 31 + (h // 8) * 17 + c * 40503) % 97) % 2,
              CASE WHEN c = (w % 8) + 8 * (h % 8) THEN 1 ELSE 0 END) AS p
  FROM cells
), bits AS (
  SELECT doc_id, w, h, c,
         CASE WHEN p > AVG(p) OVER (PARTITION BY doc_id) THEN 1 ELSE 0 END AS b
  FROM pix
), sig AS (
  SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
    CAST(SUM(CASE WHEN b = 1 THEN
      CASE WHEN c = 63 THEN -9223372036854775807 - 1
           ELSE (CAST(1 AS BIGINT) << c) END
    ELSE 0 END) AS BIGINT) AS phash
  FROM bits GROUP BY doc_id, w, h
)"""


def _delta_sig_cte(src: str, p: str, num_hashes: int = 8) -> str:
    """toks/shingles/signature CTEs over source CTE ``src``, names
    prefixed ``p`` — the minhash pipeline of _minhash_bands_cte
    parameterized by input so the delta oracle can run it over both
    the store and the survivor batch."""
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(shingles, s -> md5('{i}' || '|' || s))) AS sig_{i}"
        for i in range(num_hashes)
    )
    return f"""
{p}toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM {src}
),
{p}sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                        i -> array_to_string(t[i:i+2], ' '))) AS shingles
  FROM {p}toks WHERE len(t) >= 3
),
{p}sigs AS (
  SELECT doc_id,
    {sig_cols}
  FROM {p}sh
)"""


def _delta_band_cte(sigs: str, name: str, band_size: int = 2, num_hashes: int = 8) -> str:
    n_bands = num_hashes // band_size
    selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '|' || ".join(f"sig_{b * band_size + j}" for j in range(band_size))
        + f" AS band_key FROM {sigs}"
        for b in range(n_bands)
    )
    return f"{name} AS (\n  {selects}\n)"


_DEDUP_DELTA_SQL = f"""
WITH store_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0
),
delta AS (
  SELECT doc_id + 200000 AS doc_id, text FROM store_docs WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 300000, text || ' zqx' FROM store_docs WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
),
sfp AS (SELECT doc_id, md5({_NORM}) AS fp FROM store_docs),
dfp AS (SELECT doc_id, md5({_NORM}) AS fp FROM delta),
exact AS (
  SELECT d.doc_id, MIN(s.doc_id) AS exact_of
  FROM dfp d JOIN sfp s ON d.fp = s.fp GROUP BY d.doc_id
),
surv AS (
  SELECT dl.doc_id, dl.text FROM delta dl
  LEFT JOIN exact e ON dl.doc_id = e.doc_id WHERE e.doc_id IS NULL
),
{_delta_sig_cte('store_docs', 's')},
{_delta_sig_cte('surv', 'd')},
{_delta_band_cte('ssigs', 'sbands')},
scapped AS (
  SELECT doc_id, band_id, band_key FROM sbands
  QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_key) <= 500
),
{_delta_band_cte('dsigs', 'dbands')},
cand AS (
  SELECT DISTINCT d.doc_id, s.doc_id AS old_id
  FROM dbands d JOIN scapped s
    ON d.band_id = s.band_id AND d.band_key = s.band_key
),
near AS (
  SELECT c.doc_id, MIN(c.old_id) AS near_of
  FROM cand c
  JOIN dsigs n ON c.doc_id = n.doc_id
  JOIN ssigs o ON c.old_id = o.doc_id
  WHERE ({' + '.join(f'CASE WHEN n.sig_{i} = o.sig_{i} THEN 1 ELSE 0 END' for i in range(8))}) >= 6
  GROUP BY c.doc_id
)
SELECT dl.doc_id,
  CASE WHEN e.exact_of IS NOT NULL THEN 'exact'
       WHEN nr.near_of IS NOT NULL THEN 'near'
       ELSE 'unique' END AS status,
  COALESCE(e.exact_of, nr.near_of) AS dup_of
FROM delta dl
LEFT JOIN exact e ON dl.doc_id = e.doc_id
LEFT JOIN near nr ON dl.doc_id = nr.doc_id"""


# (prev2, prev1, cur) context stream via 1-based scalar indexing of
# the token array over a generate_series of positions — positionally
# identical to Spark's indexed-transform-then-explode stream
_TRI_FIT_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
), fit AS (
  SELECT t FROM toks
  WHERE CAST(('0x' || substr(md5('kgflow|' || doc_id), 1, 8))
             AS BIGINT) < 2147483648
), fpos AS (
  SELECT t, unnest(generate_series(1, len(t))) AS pos FROM fit
), fpair AS (
  SELECT CASE WHEN pos >= 3 THEN t[pos - 2] END AS prev2,
         CASE WHEN pos >= 2 THEN t[pos - 1] END AS prev1,
         t[pos] AS cur
  FROM fpos
)"""


def _r6_oracles() -> dict[str, str]:
    return {
        "dedup_delta": _DEDUP_DELTA_SQL,
        # curriculum sampling: exact quantile_cont thresholds (same
        # continuous-interpolation definition as Spark percentile,
        # both rounded to 6 before comparing), per-bucket md5 rates
        "quality_curriculum_sample": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), freq AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM toks GROUP BY tok
            ), tot AS (
              SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq
            ), lp AS (
              SELECT tok,
                CAST(round(log10(c / n) * 1000000, 0) AS BIGINT) AS lp6
              FROM freq, tot
            ), sc AS (
              SELECT t.doc_id, lp6 FROM toks t JOIN lp USING (tok)
            ), scores AS (
              SELECT doc_id,
                     round(SUM(lp6) / (COUNT(*) * 1000000.0), 4) AS lm_score
              FROM sc GROUP BY doc_id
            ), qs AS (
              SELECT round(quantile_cont(lm_score, 0.25), 6) AS q1,
                     round(quantile_cont(lm_score, 0.5), 6) AS q2,
                     round(quantile_cont(lm_score, 0.75), 6) AS q3
              FROM scores
            ), b AS (
              SELECT doc_id, lm_score,
                CASE WHEN lm_score <= q1 THEN 1
                     WHEN lm_score <= q2 THEN 2
                     WHEN lm_score <= q3 THEN 3
                     ELSE 4 END AS bucket
              FROM scores CROSS JOIN qs
            )
            SELECT doc_id, CAST(bucket AS INT) AS bucket, lm_score
            FROM b
            WHERE CAST(('0x' || substr(md5('kgflow|' || doc_id), 1, 8))
                       AS BIGINT)
                < CASE bucket WHEN 1 THEN CAST(0.1 AS DOUBLE)
                              WHEN 2 THEN CAST(0.5 AS DOUBLE)
                              WHEN 3 THEN CAST(0.9 AS DOUBLE)
                              ELSE CAST(1.0 AS DOUBLE) END
                  * 4294967296""",
        # stupid-backoff trigram LM, singleton trigrams pruned
        # (HAVING >= 2), fit on the 50% hash sample, scored on the
        # full corpus — chain: pruned trigram -> alpha*bigram ->
        # alpha^2*unigram, 0.5-count floor for unseen tokens
        "trigram_lm_score": _TRI_FIT_SQL
        + """,
            uni AS (
              SELECT cur AS tok, CAST(COUNT(*) AS BIGINT) AS cu
              FROM fpair GROUP BY cur
            ), tot AS (
              SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uni
            ), big AS (
              SELECT prev1, cur, CAST(COUNT(*) AS BIGINT) AS cb
              FROM fpair WHERE prev1 IS NOT NULL GROUP BY prev1, cur
            ), tri AS (
              SELECT prev2, prev1, cur, CAST(COUNT(*) AS BIGINT) AS ct
              FROM fpair WHERE prev2 IS NOT NULL
              GROUP BY prev2, prev1, cur
              HAVING COUNT(*) >= 2
            ), spos AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t))) AS pos
              FROM toks
            ), spair AS (
              SELECT doc_id,
                     CASE WHEN pos >= 3 THEN t[pos - 2] END AS prev2,
                     CASE WHEN pos >= 2 THEN t[pos - 1] END AS prev1,
                     t[pos] AS cur
              FROM spos
            ), sc AS (
              SELECT s.doc_id, CAST(round(
                CASE
                  WHEN s.prev1 IS NULL THEN
                    log10(COALESCE(CAST(uc.cu AS DOUBLE), 0.5) / tot.n)
                  WHEN s.prev2 IS NULL THEN
                    CASE WHEN b.cb IS NOT NULL THEN
                      log10(b.cb / CAST(up.cu AS DOUBLE))
                    ELSE
                      log10(CAST(0.4 AS DOUBLE)
                            * COALESCE(CAST(uc.cu AS DOUBLE), 0.5) / tot.n)
                    END
                  WHEN t3.ct IS NOT NULL THEN
                    log10(t3.ct / CAST(bc.cb AS DOUBLE))
                  WHEN b.cb IS NOT NULL THEN
                    log10(CAST(0.4 AS DOUBLE) * b.cb
                          / CAST(up.cu AS DOUBLE))
                  ELSE
                    log10(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                          * COALESCE(CAST(uc.cu AS DOUBLE), 0.5) / tot.n)
                END * 1000000, 0) AS BIGINT) AS lp6
              FROM spair s
              LEFT JOIN tri t3 ON s.prev2 = t3.prev2
                              AND s.prev1 = t3.prev1 AND s.cur = t3.cur
              LEFT JOIN big b ON s.prev1 = b.prev1 AND s.cur = b.cur
              LEFT JOIN big bc ON s.prev2 = bc.prev1 AND s.prev1 = bc.cur
              LEFT JOIN uni up ON s.prev1 = up.tok
              LEFT JOIN uni uc ON s.cur = uc.tok
              CROSS JOIN tot
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   round(SUM(lp6) / (COUNT(*) * 1000000.0), 4)
                     AS trigram_lm_score
            FROM sc GROUP BY doc_id""",
        # per-doc top-5 TF-IDF terms: integer idf6 per term, exact
        # integer tf*idf6 scores, ties toward the smallest term
        "tfidf_top_terms": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            ), tf AS (
              SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, tok
            ), dft AS (
              SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
            ), nd AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
            ), idf AS (
              SELECT tok,
                     CAST(round(log10(nd.n / df) * 1000000, 0) AS BIGINT)
                       AS idf6
              FROM dft CROSS JOIN nd
            ), sc AS (
              SELECT tf.doc_id, tf.tok, tf.tf,
                     tf.tf * idf.idf6 AS score6,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * idf.idf6 DESC, tf.tok
                     ) AS rank
              FROM tf JOIN idf ON tf.tok = idf.tok
            )
            SELECT doc_id, CAST(rank AS INT) AS rank, tok, tf, score6
            FROM sc WHERE rank <= 5""",
        # 64-token sliding windows at stride 48: 1-based scalar list
        # slicing over stride-spaced generate_series start positions
        "chunk_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), st AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t), 48)) AS s
              FROM toks
            )
            SELECT doc_id,
                   CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
                   CAST(LEAST(len(t) - s + 1, 64) AS BIGINT)
                     AS n_chunk_tokens,
                   array_to_string(t[s : s + 63], ' ') AS chunk_text
            FROM st""",
        # prune observability over the FULL corpus (no sample): types
        # and count mass kept vs dropped at min_count=2
        "trigram_prune_stats": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t FROM documents
            ), fpos AS (
              SELECT t, unnest(generate_series(1, len(t))) AS pos
              FROM toks
            ), fpair AS (
              SELECT CASE WHEN pos >= 3 THEN t[pos - 2] END AS prev2,
                     CASE WHEN pos >= 2 THEN t[pos - 1] END AS prev1,
                     t[pos] AS cur
              FROM fpos
            ), tri AS (
              SELECT prev2, prev1, cur, COUNT(*) AS ct
              FROM fpair WHERE prev2 IS NOT NULL
              GROUP BY prev2, prev1, cur
            )
            SELECT
              CAST(SUM(CASE WHEN ct >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS kept_types,
              CAST(SUM(CASE WHEN ct < 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS dropped_types,
              CAST(SUM(CASE WHEN ct >= 2 THEN ct ELSE 0 END) AS BIGINT)
                AS kept_mass,
              CAST(SUM(CASE WHEN ct < 2 THEN ct ELSE 0 END) AS BIGINT)
                AS dropped_mass
            FROM tri""",
        "image_phash": _PHASH_SIG_SQL
        + "\nSELECT doc_id, width, height, phash FROM sig",
        # 4 pigeonhole bands of 16 bits over the aHash, hot-bucket cap
        # 500, bit_count(xor) <= 3 exact verify — the simhash64 banding
        # applied to the image signature
        "image_phash_pairs": _PHASH_SIG_SQL
        + """,
            bands0 AS (
              SELECT doc_id, phash, 0 AS band_id, phash & 65535 AS band_val FROM sig
              UNION ALL
              SELECT doc_id, phash, 1, (phash >> 16) & 65535 FROM sig
              UNION ALL
              SELECT doc_id, phash, 2, (phash >> 32) & 65535 FROM sig
              UNION ALL
              SELECT doc_id, phash, 3, (phash >> 48) & 65535 FROM sig
            ),
            bands AS (
              SELECT doc_id, phash, band_id, band_val FROM bands0
              QUALIFY COUNT(*) OVER (PARTITION BY band_id, band_val) <= 500
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.phash AS sa, r.phash AS sb
              FROM bands l JOIN bands r
                ON l.band_id = r.band_id AND l.band_val = r.band_val
               AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sa, sb)) <= 3""",
        # gate -> exact-dedup keep-reps -> mix -> pack; the duplicate
        # shard (doc_id%5==0, re-keyed +100000) is injected identically,
        # dedup keeps row_number()=1 ordered by doc_id per fingerprint
        # — the same min-id representative as Spark's min_by
        "data_prep_pipeline_dedup": f"""
            WITH corpus AS (
              SELECT doc_id, source, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, source, text
              FROM documents WHERE doc_id % 5 = 0
            ), t AS (
              SELECT doc_id, source, md5({_NORM}) AS fp, {_TOKS} AS t
              FROM corpus
            ), sig AS (
              SELECT doc_id, source, fp, CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(len(t) AS BIGINT) AS n,
                list_sum(list_transform(t, x -> len(x))) / len(t) AS avg_len,
                round((len(t) - len(list_distinct(t)))
                      / CAST(len(t) AS DOUBLE), 6) AS dup,
                len(list_filter(t, x -> list_contains({_sw_list()}, x)))
                  / len(t) AS swr
              FROM t
            ), kept AS (
              SELECT doc_id, source, fp, n_tokens FROM sig
              WHERE n >= {_QG_RULES["min_tokens"]}
                AND n <= {_QG_RULES["max_tokens"]}
                AND avg_len >= {_QG_RULES["min_avg_token_len"]!r}
                AND avg_len <= {_QG_RULES["max_avg_token_len"]!r}
                AND dup <= {_QG_RULES["max_dup_token_frac"]!r}
                AND swr >= {_QG_RULES["min_stopword_ratio"]!r}
            ), ded AS (
              SELECT doc_id, source, n_tokens FROM (
                SELECT k.*, row_number() OVER (
                  PARTITION BY fp ORDER BY doc_id) AS rn
                FROM kept k
              ) WHERE rn = 1
            ), tot AS (
              SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS nt
              FROM ded GROUP BY source
            ), thr AS (
              SELECT source,
                CAST(floor(least(1.0, {_mix_target_sql()} / nt)
                           * 4294967296.0) AS BIGINT) AS thr
              FROM tot
            ), mixed AS (
              SELECT d.source, d.doc_id, d.n_tokens
              FROM ded d JOIN thr USING (source)
              WHERE CAST(('0x' || substr(md5('kgflow|' || d.doc_id), 1, 8))
                         AS BIGINT) < thr.thr
            ), cum AS (
              SELECT source, doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS c
              FROM mixed
            )
            SELECT source, doc_id, n_tokens,
                   CAST(floor(c / 512) AS BIGINT) AS bin_id,
                   CAST(c % 512 AS BIGINT) AS bin_offset
            FROM cum""",
        # fit-into-box dims are pure integer arithmetic; the 4x4 thumb
        # is nearest-neighbor over the same stub pixel formula the
        # pHash oracle mirrors (cell c = 2*(k%4) + 16*(k//4))
        "image_resize": """
            WITH dims AS (
              SELECT doc_id, 64 + doc_id % 192 AS w,
                     64 + (doc_id * 7) % 128 AS h
              FROM documents
            ), fit AS (
              SELECT doc_id, w, h,
                CASE WHEN w * 32 <= h * 32
                     THEN GREATEST(1, w * LEAST(h, 32) // h)
                     ELSE LEAST(w, 32) END AS nw,
                CASE WHEN w * 32 <= h * 32
                     THEN LEAST(h, 32)
                     ELSE GREATEST(1, h * LEAST(w, 32) // w) END AS nh
              FROM dims
            ), cells AS (
              SELECT doc_id, w, h, nw, nh,
                     unnest(generate_series(0, 15)) AS k
              FROM fit
            ), px AS (
              SELECT doc_id, w, h, nw, nh, k,
                     2 * (k % 4) + 16 * (k // 4) AS c
              FROM cells
            ), val AS (
              SELECT doc_id, w, h, nw, nh, k,
                200 * xor((((w // 8) * 31 + (h // 8) * 17 + c * 40503)
                           % 97) % 2,
                          CASE WHEN c = (w % 8) + 8 * (h % 8)
                               THEN 1 ELSE 0 END) AS p
              FROM px
            )
            SELECT doc_id, CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(nw AS BIGINT) AS new_width,
                   CAST(nh AS BIGINT) AS new_height,
                   list(CAST(p AS INTEGER) ORDER BY k) AS thumb
            FROM val GROUP BY doc_id, w, h, nw, nh""",
        # endpoint-inclusive uniform selection k*(nf-1)//7, all frames
        # for short clips; DISTINCT mirrors the operator's set-dedup
        "video_frame_sample": """
            WITH v AS (
              SELECT doc_id, 10 + doc_id % 240 AS nf,
                     12 + (doc_id * 3) % 18 AS fps
              FROM documents
            ), ks AS (
              SELECT doc_id, nf, fps, unnest(generate_series(0, 7)) AS k
              FROM v
            ), sel AS (
              SELECT DISTINCT doc_id, nf, fps,
                CASE WHEN nf <= 8 THEN k ELSE k * (nf - 1) // 7 END
                  AS frame_idx
              FROM ks WHERE nf > 8 OR k < nf
            )
            SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(frame_idx * 1000 // fps AS BIGINT) AS ts_ms,
                   CAST((doc_id * 1000003 + frame_idx) % 2147483647
                        AS BIGINT) AS frame_key,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST(fps AS BIGINT) AS fps
            FROM sel""",
        # the PCM waveform is the published integer recurrence; full
        # 128-sample frames only, exact-integer energy + peak
        "audio_frame_energy": """
            WITH a AS (
              SELECT doc_id, 512 + doc_id % 256 AS n FROM documents
            ), s AS (
              SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
              FROM a
            ), x AS (
              SELECT doc_id, n, i // 128 AS frame_idx,
                ((doc_id * 2654435761 + i * 40503) % 65536) - 32768 AS v
              FROM s WHERE (i // 128 + 1) * 128 <= n
            )
            SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(SUM(v * v) AS BIGINT) AS sum_sq,
                   CAST(MAX(ABS(v)) AS BIGINT) AS peak,
                   CAST(MAX(n) AS BIGINT) AS n_samples
            FROM x GROUP BY doc_id, frame_idx""",
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _base_queries()
    q.update(_LATE_QUERIES)
    q.update(_R2_QUERIES)
    q.update(_R3_QUERIES)
    q.update(_R4_QUERIES)
    q.update(_R5_QUERIES)
    q.update(_R6_QUERIES)
    return q


def oracle_sql() -> dict[str, str]:
    o = _base_oracles()
    o.update(_late_oracles())
    o.update(_r2_oracles())
    # the XML parse path lands in the same contract as the JSON one —
    # one construction-inverse oracle checks both wire formats
    o["doc_parse_xml"] = o["doc_parse_fields"]
    o["kg_prov_rollup"] = _KG_PROV_ROLLUP_SQL
    o.update(_r4_oracles())
    o.update(_r5_oracles())
    o.update(_r6_oracles())
    return o

"""StructTypes of the pipeline's inputs (transcripts and the lexicon
dimensions) and the schemas of the benchmark's testdata tables.

The shapes derive from the reference's data model (SURVEY.md §1) and from
``BASELINE.json.input_hint`` (transcripts).
"""

from __future__ import annotations

from pyspark.sql import types as T

# -- pipeline input ---------------------------------------------------------

#: BASELINE.json input_hint: multi-turn conversation / agent transcripts.
TRANSCRIPT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# -- lexicon dimensions (GO/HGNC/SO-style term tables; SURVEY.md §1.1) ------

LEXICON_TERM = T.StructType(
    [
        T.StructField("term_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("namespace", T.StringType(), True),
        T.StructField("definition", T.StringType(), True),
        T.StructField("synonyms", T.ArrayType(T.StringType()), True),
        T.StructField("xrefs", T.ArrayType(T.StringType()), True),
        T.StructField("alt_ids", T.ArrayType(T.StringType()), True),
        T.StructField("is_obsolete", T.BooleanType(), True),
    ]
)

#: ontology hierarchy triples from OBO parse (import_go_obo.py:115-145).
LEXICON_ISA_EDGE = T.StructType(
    [
        T.StructField("subject_id", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object_id", T.StringType(), False),
    ]
)

# -- testdata ---------------------------------------------------------------

#: The benchmark's testdata tables, name → DDL in file column order: the
#: schema Spark infers from each parquet footer (pyarrow's naive
#: timestamps come back as timestamp_ntz). Reading with it starts no
#: schema-inference job.
TESTDATA = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TESTDATA_TABLES = tuple(TESTDATA)

"""StructTypes of the pipeline's inputs (transcripts and the lexicon
dimensions) and the names of the benchmark's testdata tables.

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

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

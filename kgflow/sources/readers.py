"""Readers re-expressing the reference's scan operators (SURVEY.md §2.1).

S1  LOAD CSV WITH HEADERS … FIELDTERMINATOR '\\t'  → read_delimited
S2  headerless positional columns + SKIP n          → read_positional
S3  apoc.load.csv array-mapped columns              → read_delimited(array_cols=…)
S5  OBO ontology parse → term + hierarchy frames    → load_obo
S6  RDF N-Triples lines → (subj, pred, obj) rows    → parse_ntriples

All readers return plain DataFrames; casts/splits happen via column
expressions so Catalyst keeps pushdown and pruning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = True,
    array_cols: dict[str, str] | None = None,
    trim_cols: bool = True,
) -> DataFrame:
    """Header CSV/TSV scan (S1) with optional per-column list mapping (S3:
    ``apoc.load.csv mapping {col: {array: true, arraySep: ';'}}``,
    cql/import/uniprot/load_uniprot.cql:7-20) and key hygiene (C6)."""
    df = (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    for col, asep in (array_cols or {}).items():
        df = df.withColumn(
            col,
            F.filter(
                F.transform(F.split(F.col(col), asep), lambda x: F.trim(x)),
                lambda x: x != "",
            ),
        )
    if trim_cols:
        for c, t in df.dtypes:
            if t == "string":
                df = df.withColumn(c, F.trim(F.col(c)))
    return df


def read_positional(
    spark: SparkSession,
    path: str,
    n_cols: int,
    sep: str = ",",
    skip_prefix: str | None = None,
) -> DataFrame:
    """Headerless positional scan (S2: ``LOAD CSV … AS row … row[0]``,
    cql/import/import_hpo.cql:30-35). ``skip_prefix`` drops preamble
    lines by content (the scalable re-expression of ``SKIP n`` — a
    row-number skip would force a global ordering; preamble lines in the
    reference's inputs are comment-prefixed)."""
    df = spark.read.option("header", "false").option("sep", sep).csv(path)
    if skip_prefix:
        df = df.filter(~F.col("_c0").startswith(skip_prefix))
    cols = [F.col(f"_c{i}").alias(f"col{i}") for i in range(n_cols)]
    return df.select(*cols)


def parse_obo(text: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Minimal OBO 1.2 [Term] stanza parser → (terms, hierarchy edges).

    Mirrors the fields the reference extracts with pronto/obonet
    (import_go_obo.py:64-145): id, name, namespace, def, synonyms,
    xrefs, alt_ids, is_obsolete; is_a and relationship lines become
    (subject, predicate, object) rows.
    """
    terms: list[dict] = []
    edges: list[dict] = []
    cur: dict | None = None
    in_term = False

    def flush() -> None:
        nonlocal cur
        if cur and cur.get("term_id"):
            terms.append(
                {
                    "term_id": cur["term_id"],
                    "name": cur.get("name"),
                    "namespace": cur.get("namespace"),
                    "definition": cur.get("definition"),
                    "synonyms": cur.get("synonyms", []),
                    "xrefs": cur.get("xrefs", []),
                    "alt_ids": cur.get("alt_ids", []),
                    "is_obsolete": cur.get("is_obsolete", False),
                }
            )
        cur = None

    for raw in text.splitlines():
        line = raw.strip()
        if line.startswith("["):
            flush()
            in_term = line == "[Term]"
            cur = {} if in_term else None
            continue
        if not in_term or cur is None or not line or line.startswith("!"):
            continue
        key, _, val = line.partition(":")
        val = val.strip()
        if key == "id":
            cur["term_id"] = val
        elif key == "name":
            cur["name"] = val
        elif key == "namespace":
            cur["namespace"] = val
        elif key == "def":
            cur["definition"] = val.split('"')[1] if '"' in val else val
        elif key == "synonym":
            if '"' in val:
                cur.setdefault("synonyms", []).append(val.split('"')[1])
        elif key == "xref":
            cur.setdefault("xrefs", []).append(val.split(" ")[0])
        elif key == "alt_id":
            cur.setdefault("alt_ids", []).append(val)
        elif key == "is_obsolete":
            cur["is_obsolete"] = val.lower() == "true"
        elif key == "is_a":
            obj = val.split("!")[0].strip()
            if cur.get("term_id"):
                edges.append(
                    {"subject_id": cur["term_id"], "predicate": "is_a", "object_id": obj}
                )
        elif key == "relationship":
            parts = val.split("!")[0].split()
            if len(parts) >= 2 and cur.get("term_id"):
                edges.append(
                    {
                        "subject_id": cur["term_id"],
                        "predicate": parts[0],
                        "object_id": parts[1],
                    }
                )
    flush()
    return pd.DataFrame(terms), pd.DataFrame(edges)


def load_obo(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Driver-side OBO parse → broadcastable lexicon dimension frames
    (ontologies are MB-scale; same decision as the reference, which
    parses them in-process — S5)."""
    with open(path, encoding="utf-8") as fh:
        terms_pdf, edges_pdf = parse_obo(fh.read())
    terms = spark.createDataFrame(terms_pdf, schema=schemas.LEXICON_TERM)
    edges = spark.createDataFrame(edges_pdf, schema=schemas.LEXICON_ISA_EDGE)
    return terms, edges


_NT_PATTERN = r'^\s*<([^>]+)>\s+<([^>]+)>\s+(.+?)\s*\.\s*$'


def parse_ntriples(lines: DataFrame, col: str = "value") -> DataFrame:
    """S6: RDF N-Triples scan → (subj, pred, obj, is_literal) rows.

    The reference imports RDF through neosemantics (``n10s.rdf.import``)
    inside Neo4j; Spark-native, an N-Triples file is just a line format:
    ``spark.read.text`` + regex extraction — embarrassingly parallel,
    no driver parsing, comments/blank lines dropped. Literal objects
    keep their lexical form with datatype (``"x"^^<t>``) / language
    (``"x"@en``) suffixes stripped; IRI objects lose their angle
    brackets; ``is_literal`` preserves the distinction n10s maps to
    property-vs-relationship.
    """
    parsed = lines.select(
        F.regexp_extract(F.col(col), _NT_PATTERN, 1).alias("subj"),
        F.regexp_extract(F.col(col), _NT_PATTERN, 2).alias("pred"),
        F.regexp_extract(F.col(col), _NT_PATTERN, 3).alias("_o"),
    ).filter(F.col("subj") != "")
    is_lit = F.col("_o").startswith('"')
    literal = F.regexp_extract(F.col("_o"), r'^"((?:[^"\\]|\\.)*)"', 1)
    iri = F.regexp_extract(F.col("_o"), r"^<([^>]+)>$", 1)
    return parsed.select(
        "subj",
        "pred",
        F.when(is_lit, literal).otherwise(iri).alias("obj"),
        is_lit.alias("is_literal"),
    ).filter(F.col("obj") != "")


"""Entity linking: surface strings → lexicon term ids via broadcast joins.

Re-expresses the reference's MERGE-by-business-key entity resolution
(``cql/import/cosmic/import_cosmic_mutant_census.cql:36-38`` MATCH dim by
key then MERGE edge) as explicit broadcast hash joins (SURVEY.md §2.3 J1).

Key hygiene is applied on BOTH sides before the join — the reference had
to ship a remediation script for whitespace-polluted keys
(``cql/remediation/remediate_uniprot_pubmed_ids.cql:8-26``); we normalize
at build time (SURVEY.md §2.8 C6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import canon

# Java's \s plus the rest of what Python's str.isspace() accepts, so an
# edge strip here equals the oracle's str.strip()
_EDGE_WS = r"[\s\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"


def edge_strip(col):
    """``col`` with leading and trailing whitespace removed, as
    ``str.strip()`` removes it (``F.trim`` strips spaces only)."""
    return F.regexp_replace(col, f"^{_EDGE_WS}+|{_EDGE_WS}+$", "")


def surface_dim(terms: DataFrame) -> DataFrame:
    """Lexicon terms → (surface, term_id, namespace) link dimension.

    * name + each synonym becomes a surface (pipe-split semantics of
      ``cql/import/import_hgnc.cql:34-38`` already normalized to arrays).
    * surfaces edge-stripped of all whitespace (not only spaces) +
      lower-cased (C6 hygiene).
    * obsolete terms are excluded — they must not link
      (``import_go_obo.py:105``).
    * one winner per surface: deterministic min(term_id) tie-break
      replaces MERGE first-writer-wins (SURVEY.md §7.5.2).
    """
    live = terms.filter(~F.coalesce(F.col("is_obsolete"), F.lit(False)))
    surfaces = live.select(
        F.explode(
            F.array_union(F.array(F.col("name")), F.coalesce(F.col("synonyms"), F.array()))
        ).alias("surface_raw"),
        "term_id",
        "namespace",
    )
    cleaned = surfaces.select(
        F.lower(edge_strip("surface_raw")).alias("surface"),
        "term_id",
        "namespace",
    ).filter(F.col("surface") != "")
    return cleaned.groupBy("surface").agg(
        F.min("term_id").alias("term_id"),
        F.min_by("namespace", "term_id").alias("namespace"),
    )


def surface_map(rows) -> dict[str, tuple[str, str]]:
    """``surface_dim`` on the driver: surface → (term_id, namespace) over
    collected term rows, by the same rules (live terms only, name plus
    synonyms, ``strip().lower()``, non-empty, min term_id wins with its
    namespace)."""
    out: dict[str, tuple[str, str]] = {}
    for r in rows:
        if r.is_obsolete:
            continue
        for s in {r.name, *(r.synonyms or ())}:
            key = s.strip().lower() if s is not None else ""
            if key and (key not in out or r.term_id < out[key][0]):
                out[key] = (r.term_id, r.namespace)
    return out


def link_mentions(mentions: DataFrame, dim: DataFrame) -> DataFrame:
    """mentions (surface) ⨝ broadcast(dim) → linked mentions with term_id.

    Inner join: unlinkable surfaces are dropped, matching the reference's
    MATCH-then-MERGE (edge only emitted when the dim row exists, J1/J2).
    """
    return mentions.join(F.broadcast(dim), "surface", "inner")


def prefix_match_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_col: str,
    dim_col: str,
) -> DataFrame:
    """Theta 'STARTS WITH' join re-expressed as a derived-key equi join
    (J3) — the reference's ``WHERE u.Entry_Name STARTS WITH
    g.GENE_SYMBOL`` over UniProt entry names like ``BRCA1_HUMAN``
    (``import_cosmic_genes.cql:41-46``).

    Exact STARTS WITH semantics: ``fact STARTS WITH dim`` ⇔
    ``substr(fact, 1, len(dim)) = dim``. The dim side is
    dimension-scale, so its set of DISTINCT key lengths is tiny
    (bounded by the longest symbol); each fact row derives one
    candidate prefix per distinct length and Catalyst gets a broadcast
    hash join on the derived prefix — never a nested loop. The literal
    ``startswith(dim)`` is kept as a (free) post-join verify. Row
    amplification = number of distinct dim key lengths, so the fan-out
    is a dim-side property independent of fact cardinality. Unlike the
    earlier first-separator-segment key, this matches dims that
    themselves contain the separator (``ABC_1`` → ``ABC_1_HUMAN``) and
    boundary-free prefixes (``BRCA1`` → ``BRCA12_HUMAN``), exactly as
    the reference's STARTS WITH does.
    """
    # one driver-side scan of the dimension table (broadcast-scale by
    # contract — same size class as the broadcast itself)
    lengths = sorted(
        r[0]
        for r in dims.select(F.length(dim_col)).distinct().collect()
        if r[0] is not None and r[0] > 0
    )
    if not lengths:
        return facts.join(F.broadcast(dims), F.lit(False))
    candidates = F.array_distinct(
        F.array(*[F.col(fact_col).substr(F.lit(1), F.lit(int(l))) for l in lengths])
    )
    derived = facts.withColumn("_pk", F.explode(candidates))
    return (
        derived.join(F.broadcast(dims), derived["_pk"] == dims[dim_col])
        .filter(F.col(fact_col).startswith(F.col(dim_col)))
        .drop("_pk")
    )


def alt_id_edges(terms: DataFrame) -> DataFrame:
    """Same-as links (term_id ↔ alt_id) for canonicalization input.

    Generalization of the Gene↔biolink:Gene consolidation
    (``cql/remediation/remediate_gene_node.cql:5-52``).
    """
    return (
        terms.select("term_id", F.explode("alt_ids").alias("alt_id"))
        .select(
            F.col("term_id").alias("id_a"),
            edge_strip("alt_id").alias("id_b"),
        )
        .filter(F.col("id_b") != "")
    )


def canonical_map(rows) -> dict[str, str]:
    """``connected_components(alt_id_edges(terms))`` on the driver: id →
    min id of its same-as component, over collected term rows with the
    same edge rules (alt ids edge-stripped, empty ones dropped)."""
    return canon._union_find_map(
        (r.term_id, alt.strip())
        for r in rows
        for alt in r.alt_ids or ()
        if alt is not None and alt.strip()
    )


def canonicalize(df: DataFrame, canon_map: dict[str, str], cols: list[str]) -> DataFrame:
    """``canon.apply_canonical(df, mapping, cols)`` through the driver
    dict ``canon_map`` (id → canonical id, as ``canonical_map`` builds
    it): ids absent from the dict stay as they are. The dict is
    broadcast once and each Arrow batch is rewritten by an Arrow
    ``index_in``/``take`` lookup in one narrow ``mapInArrow`` stage — no
    join, no size-gate count, no broadcast exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    bc = df.sparkSession.sparkContext.broadcast((list(canon_map), list(canon_map.values())))

    def run(batches):
        keys, vals = (pa.array(v, pa.string()) for v in bc.value)
        for rb in batches:
            arrays = rb.columns
            for c in cols:
                i = rb.schema.get_field_index(c)
                col = arrays[i]
                idx = pc.index_in(col, value_set=keys.cast(col.type))
                arrays[i] = pc.if_else(pc.is_null(idx), col, pc.take(vals.cast(col.type), idx))
            yield pa.RecordBatch.from_arrays(arrays, schema=rb.schema)

    return df.mapInArrow(run, schema=df.schema)

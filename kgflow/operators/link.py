"""Entity linking: surface strings → lexicon term ids, and term ids →
canonical ids, as driver-side maps over the collected term rows.

Re-expresses the reference's MERGE-by-business-key entity resolution
(``cql/import/cosmic/import_cosmic_mutant_census.cql:36-38`` MATCH dim by
key then MERGE edge): ``surface_map`` and ``canonical_map`` are the only
statement of the surface and same-as rules. The extraction kernel looks
each matched surface up in them inside its batch loop, and
``canonicalize`` rewrites id columns through the canonical map in an
Arrow stage — no join either way.

Key hygiene is applied when the maps are built — the reference had to
ship a remediation script for whitespace-polluted keys
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


def surface_map(rows) -> dict[str, tuple[str, str]]:
    """surface → (term_id, namespace) over collected term rows (the
    link dimension; ``reference_oracle._surface_map`` is its oracle):

    * obsolete terms are left out — they must not link
      (``import_go_obo.py:105``);
    * a live term's name and each of its synonyms is a surface (the
      pipe-split of ``cql/import/import_hgnc.cql:34-38``, already
      normalized to arrays); a null one is skipped;
    * a surface is edge-stripped of all whitespace (``str.strip()``, not
      only spaces) and lower-cased (C6 hygiene); an empty result is
      skipped. Inner whitespace is kept, so a surface holding a tab, a
      newline or a double space never matches (``extract._extract``
      keeps it out of the automaton, as ``reference_oracle._scan``
      never matches it);
    * one winner per surface: the minimum term_id, with its namespace —
      a deterministic tie-break in place of MERGE first-writer-wins
      (SURVEY.md §7.5.2)."""
    out: dict[str, tuple[str, str]] = {}
    for r in rows:
        if r.is_obsolete:
            continue
        for s in {r.name, *(r.synonyms or ())}:
            key = s.strip().lower() if s is not None else ""
            if key and (key not in out or r.term_id < out[key][0]):
                out[key] = (r.term_id, r.namespace)
    return out


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


def canonical_map(rows) -> dict[str, str]:
    """id → canonical id over collected term rows
    (``reference_oracle._canonical_map`` is its oracle):

    * every (term_id, alt_id) pair is a same-as link — the
      generalization of the Gene↔biolink:Gene consolidation
      (``cql/remediation/remediate_gene_node.cql:5-52``); obsolete terms'
      alt ids link too;
    * an alt id is edge-stripped of all whitespace; a null or empty one
      is dropped;
    * every id on a link to another id maps to the minimum id of its
      connected component (``canon._union_find_map``); an id on no such
      link is absent and stays as it is."""
    return canon._union_find_map(
        (r.term_id, alt.strip())
        for r in rows
        for alt in r.alt_ids or ()
        if alt is not None and alt.strip()
    )


def canonicalize(df: DataFrame, canon_map: dict, cols: list[str]) -> DataFrame:
    """``cols`` of ``df`` rewritten through the driver dict ``canon_map``
    (id → canonical id, as ``canonical_map`` or a driver-side
    ``canon.connected_components`` builds it): ids absent from the dict
    and nulls stay as they are. Keys and values take each column's
    Arrow type (string term ids, integer document ids). The dict is
    broadcast once and each Arrow batch is rewritten by an Arrow
    ``index_in``/``take`` lookup in one narrow ``mapInArrow`` stage — no
    join, no size-gate count, no broadcast exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    bc = df.sparkSession.sparkContext.broadcast((list(canon_map), list(canon_map.values())))

    def run(batches):
        keys, vals = (pa.array(v) for v in bc.value)
        for rb in batches:
            arrays = rb.columns
            for c in cols:
                i = rb.schema.get_field_index(c)
                col = arrays[i]
                idx = pc.index_in(col, value_set=keys.cast(col.type))
                arrays[i] = pc.if_else(pc.is_null(idx), col, pc.take(vals.cast(col.type), idx))
            yield pa.RecordBatch.from_arrays(arrays, schema=rb.schema)

    return df.mapInArrow(run, schema=df.schema)

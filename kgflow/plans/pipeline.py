"""End-to-end KG-construction DAG.

transcripts → mentions → linked mentions → (subj, pred, obj) triples →
canonicalization → deduped triples + node table.

Emitted triple families (the P/R comparison contract, mirrored
byte-for-byte by ``kgflow.reference_oracle``):

=================  ==========================================  ==========================================
predicate          subj → obj                                  reference analogue
=================  ==========================================  ==========================================
``MENTIONS``       ``turn:<conv>:<idx>`` → term                PubMedArticle→MeshTerm ``HAS_MESH_TERM``
                                                               (``PubMedAbstractEmbedding.py:205-210``)
``HAS_<NS>``       ``conv:<conv>`` → term (NS=upper namespace) gene→GOTerm ``HAS_<upper(go ns)>``
                                                               (``cql/import/uniprot/uniprot_relationships.cql:11-37``)
``CO_OCCURS_WITH`` term ↔ term, least/greatest canonical       ``INTERACTS_WITH`` symmetric dedup
                                                               (``cql/import/uniprot/uniprot_intact.cql:30-39``)
``NEXT_TURN``      turn → following turn in conversation       stable (conv_id, turn_idx) ordering
                                                               invariant (BASELINE.json input_hint)
``IS_A``/dynamic   term → term, upper-cased, ``:``/space→``_`` OBO hierarchy (``import_go_obo.py:125-143,
                                                               248-258``; ``import_squence_ontology_obo.py:98``)
=================  ==========================================  ==========================================

All term endpoints are rewritten through the connected-components
canonical mapping derived from alt_id same-as links before the final
global dedup (MERGE-idempotence, C2).

Plan shape (driver-dict ``Lexicon``): ONE exchange clusters the turns
by conversation, sorted by (conv_id, turn_idx), and one extraction
kernel (``extract.extract_conversation_triples``) emits the MENTIONS,
HAS_<NS>, CO_OCCURS_WITH and NEXT_TURN rows distinct per conversation,
each with its observation count. The subjects of three of those
families carry the conversation id, so only CO_OCCURS_WITH and the
ontology rows can repeat across conversations. The resumable form
(``with_src``) needs no further exchange, the plain form one
(subj, pred, obj) dedup, and ``build_triples_prov`` one aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import canon, extract, link


@dataclass
class Lexicon:
    """Prepared lexicon artifacts: built once per lexicon version, reused
    across every batch/stream run (dimension prep is not per-batch work —
    the reference likewise parses ontologies once up front,
    import_go_obo.py:64-145). ``surface_map``/``canon_map``/``has_preds``
    are the driver-side dicts (surface → (term_id, namespace), id →
    canonical id, namespace → ``HAS_<NS>`` predicate) broadcast into the
    fused extraction stage and, for the ontology rows, into
    ``link.canonicalize``; ``dim`` is the broadcast-join link dimension
    of the path without them."""

    surfaces: list[str]
    mapping: DataFrame  # (id, canonical_id)
    dim: DataFrame | None = None  # (surface, term_id, namespace), cached
    surface_map: dict[str, tuple[str, str]] | None = None
    canon_map: dict[str, str] | None = None
    has_preds: dict[str | None, str | None] | None = None


def _has_pred():
    """The ``HAS_<NS>`` predicate of a row's namespace (null for null)."""
    return F.concat(F.lit("HAS_"), F.upper("namespace")).alias("has_pred")


def prepare_lexicon(
    terms: DataFrame, max_fused_surfaces: int = 2_000_000
) -> Lexicon:
    """Build the per-lexicon artifacts once.

    ``max_fused_surfaces`` guards the driver: the fused extraction path
    materializes the full (surface → term, id → canonical) dicts on the
    driver and pickle-broadcasts them, which is right at ontology scale
    (the reference parses whole ontologies driver-side,
    import_go_obo.py:64-145) but would build multi-GB Python dicts for a
    10M-surface lexicon.

    At ontology scale the dicts come from one bounded collect of the
    term rows: ``link.surface_map`` and ``link.canonical_map`` apply the
    ``surface_dim`` / ``alt_id_edges`` rules on the driver, and
    ``mapping`` is a local frame of ``canon_map`` — one Spark job, no
    cache. The same collect upper-cases every namespace in the JVM for
    the ``HAS_<NS>`` predicates (``has_preds``), so they equal what
    ``F.upper`` gives. When the term rows or their surfaces exceed the
    guard, the Spark path builds the cached ``dim`` and the
    connected-components ``mapping``; above the guard only the surface
    LIST (the automaton's irreducible broadcast artifact) is collected and
    ``surface_map``/``canon_map`` stay None, which routes
    ``_assemble_triples`` to the broadcast-JOIN composition form
    (link.link_mentions + canon.apply_canonical) — same triples, JVM-side
    Tungsten-compact broadcast instead of Python dicts.
    """
    rows = (
        terms.select(
            "term_id", "name", "namespace", "synonyms", "alt_ids", "is_obsolete", _has_pred()
        )
        .limit(max_fused_surfaces + 1)
        .collect()
    )
    if len(rows) <= max_fused_surfaces:
        surface_map = link.surface_map(rows)
        if len(surface_map) <= max_fused_surfaces:
            canon_map = link.canonical_map(rows)
            mapping = terms.sparkSession.createDataFrame(
                list(canon_map.items()), "id string, canonical_id string"
            )
            return Lexicon(
                surfaces=list(surface_map),
                mapping=mapping,
                surface_map=surface_map,
                canon_map=canon_map,
                has_preds={r.namespace: r.has_pred for r in rows},
            )

    dim = link.surface_dim(terms).cache()
    mapping = canon.connected_components(link.alt_id_edges(terms)).cache()
    # one bounded collect serves both the size gate and the driver dicts
    dim_rows = dim.select("*", _has_pred()).limit(max_fused_surfaces + 1).collect()
    if len(dim_rows) > max_fused_surfaces:
        import logging

        logging.getLogger("kgflow").warning(
            "lexicon has more than %d surfaces: fused driver-dict path "
            "disabled, using broadcast-join linking",
            max_fused_surfaces,
        )
        surfaces = [r.surface for r in dim.select("surface").collect()]
        return Lexicon(surfaces=surfaces, dim=dim, mapping=mapping)
    surfaces = [r.surface for r in dim_rows]
    return Lexicon(
        surfaces=surfaces,
        dim=dim,
        mapping=mapping,
        surface_map={r.surface: (r.term_id, r.namespace) for r in dim_rows},
        canon_map={r.id: r.canonical_id for r in mapping.collect()},
        has_preds={r.namespace: r.has_pred for r in dim_rows},
    )


def normalize_predicate(col):
    """edge-strip + upper-case + ``:``/space → ``_`` (import_go_obo.py:256,
    import_squence_ontology_obo.py:98)."""
    return F.upper(F.regexp_replace(link.edge_strip(col), "[: ]", "_"))


def _conversation_triples(
    transcripts: DataFrame,
    lex: Lexicon,
    cluster_by: str = "conv_id",
    tally: Accumulator | None = None,
) -> DataFrame:
    """The fused path's transcript triples, distinct per conversation.

    The turns are clustered once by ``cluster_by`` — ``conv_id`` hash,
    or a column that is a function of it, such as the resumable
    writer's ``bucket`` — and sorted by (conv_id, turn_idx), which is
    the input contract of ``extract.extract_conversation_triples``. That
    exchange carries the turn rows (with their text); no exchange keyed
    by the source conversation follows it. ``tally``: see
    ``extract.extract_conversation_triples``.
    """
    clustered = transcripts.repartition(cluster_by).sortWithinPartitions("conv_id", "turn_idx")
    return extract.extract_conversation_triples(
        clustered, lex.surface_map, lex.canon_map, lex.has_preds, tally
    )


def _composed_triples(transcripts: DataFrame, lex: Lexicon) -> DataFrame:
    """The composition form's transcript triples (for Lexicons built
    without driver-side maps): broadcast-join linking + canonical
    rewrite, one row per observation, then counted per (subj, pred,
    obj, src_conv) so the rows match the fused path's."""
    mentions = extract.extract_mentions(transcripts, lex.surfaces)
    linked = link.link_mentions(mentions, lex.dim)
    linked = canon.apply_canonical(linked, lex.mapping, ["term_id"]).localCheckpoint(
        eager=True
    )
    # one shuffle to assemble per-turn term sets
    per_turn_sets = linked.groupBy("conv_id", "turn_idx").agg(
        F.sort_array(F.collect_set("term_id")).alias("ts")
    )

    turn_uri = F.concat(F.lit("turn:"), "conv_id", F.lit(":"), F.col("turn_idx"))
    conv_uri = F.concat(F.lit("conv:"), "conv_id")
    src = F.col("conv_id").alias("src_conv")

    mentions_triples = linked.select(
        turn_uri.alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.col("term_id").alias("obj"),
        src,
        F.lit("mention").alias("family"),
    )

    has_ns_triples = linked.select(
        conv_uri.alias("subj"),
        F.concat(F.lit("HAS_"), F.upper("namespace")).alias("pred"),
        F.col("term_id").alias("obj"),
        src,
        F.lit("conv_ns").alias("family"),
    )

    # within-turn co-occurrence. NOT a self-join: per-turn distinct term
    # sets expand to ordered pairs in-row — per-turn term counts are
    # small, so the pair expansion is cheap. Pair order from the sorted
    # array gives least/greatest canonical form for free (J6/C5).
    pairs = F.flatten(
        F.transform(
            F.col("ts"),
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size(F.col("ts"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    co = (
        per_turn_sets.select("conv_id", F.explode(pairs).alias("p"))
        .select(
            F.col("p.a").alias("subj"),
            F.lit("CO_OCCURS_WITH").alias("pred"),
            F.col("p.b").alias("obj"),
            F.col("conv_id").alias("src_conv"),
            F.lit("cooccur").alias("family"),
        )
    )

    # stable-ordering NEXT_TURN edges
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = (
        transcripts.select("conv_id", "turn_idx")
        .withColumn("next_idx", F.lead("turn_idx").over(w))
        .filter(F.col("next_idx").isNotNull())
        .select(
            F.concat(F.lit("turn:"), "conv_id", F.lit(":"), F.col("turn_idx")).alias("subj"),
            F.lit("NEXT_TURN").alias("pred"),
            F.concat(F.lit("turn:"), "conv_id", F.lit(":"), F.col("next_idx")).alias("obj"),
            F.col("conv_id").alias("src_conv"),
            F.lit("next_turn").alias("family"),
        )
    )

    return (
        mentions_triples.unionByName(has_ns_triples)
        .unionByName(co)
        .unionByName(nxt)
        .groupBy("subj", "pred", "obj", "src_conv", "family")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )


def _assemble_triples(
    transcripts: DataFrame,
    isa_edges: DataFrame,
    lex: Lexicon,
    cluster_by: str = "conv_id",
    tally: Accumulator | None = None,
) -> DataFrame:
    """Pre-dedup triple frame: (subj, pred, obj, src_conv, family, n_obs).

    Each row is ``n_obs`` observations of one triple in one source
    conversation ``src_conv`` (null for ontology rows), and the rows are
    distinct per (subj, pred, obj, src_conv). ``family`` tags which
    extraction rule produced the row (mention / conv_ns / cooccur /
    next_turn / ontology) — the provenance unit the reference tracks
    per import script (each CQL import file is one family;
    cql/import/*).

    The transcript rows come distinct per conversation out of the
    extraction kernel (``_conversation_triples``, which clusters the
    turns by ``cluster_by``) on the fused path, and from one count
    aggregate on the composition path. The ontology rows are
    dimension-scale: they are counted in one partition, which needs no
    exchange.
    """
    onto = isa_edges.select(
        link.edge_strip("subject_id").alias("subj"),
        normalize_predicate(F.col("predicate")).alias("pred"),
        link.edge_strip("object_id").alias("obj"),
        F.lit(None).cast("string").alias("src_conv"),
        F.lit("ontology").alias("family"),
    )
    if lex.canon_map is not None:
        onto = link.canonicalize(onto, lex.canon_map, ["subj", "obj"])
        rows = _conversation_triples(transcripts, lex, cluster_by, tally)
    else:
        onto = canon.apply_canonical(onto, lex.mapping, ["subj", "obj"])
        rows = _composed_triples(transcripts, lex)
    onto = (
        onto.coalesce(1)
        .groupBy("subj", "pred", "obj", "src_conv", "family")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    return rows.unionByName(onto)


def build_triples(
    transcripts: DataFrame,
    terms: DataFrame,
    isa_edges: DataFrame,
    with_src: bool = False,
    lex: Lexicon | None = None,
    tally: Accumulator | None = None,
) -> DataFrame:
    """The full extraction DAG; returns the deduped triple table.

    ``with_src=True`` keeps a ``src_conv`` provenance column (null for
    ontology triples), one row per (subj, pred, obj, src_conv) — used by
    the bucket-resumable writer so every transcript-derived triple lands
    in its source conversation's bucket; the global triple-set view
    dedups on read. The rows come distinct on that key out of
    ``_assemble_triples``, so this form has no dedup of its own: its
    only exchange clusters the turns. When the input carries the
    writer's ``bucket`` column (``checkpoint.with_bucket``: a function of
    conv_id) the turns are clustered by it, which is the writer's
    partitioning; a resumable run's parallelism is then its pending
    bucket count, as its write's already was.

    The plain form dedups (subj, pred, obj) once, after the turn
    exchange.

    ``lex``: pass a prepared ``Lexicon`` to skip per-run dimension prep
    (the recommended shape for repeated/incremental runs).

    ``tally``: an ``extract.bucket_tally`` accumulator that the
    extraction kernel fills with per-bucket turn-quality and mention
    sums (the resumable writer's ledger quality). It needs ``with_src``,
    a driver-map ``lex`` and an input carrying ``bucket`` and
    ``extract.QUALITY_COLS``;
    the triples do not change.

    INPUT CONTRACT: one row per (conv_id, turn_idx) — the transcript
    input hint's shape, and what "per-turn text equality under stable
    (conv_id, turn_idx) ordering" presumes. Duplicate turn rows would
    make the fused path compute co-occurrence per ROW while the
    composition fallback merges per TURN (and would also duplicate
    NEXT_TURN edges in both paths); de-duplicate upstream
    (``canon.dedup_keep_first``) before calling if the source can emit
    duplicates.
    """
    if lex is None:
        lex = prepare_lexicon(terms)
    cluster_by = "bucket" if with_src and "bucket" in transcripts.columns else "conv_id"
    triples = _assemble_triples(transcripts, isa_edges, lex, cluster_by, tally)
    if with_src:
        return triples.select("subj", "pred", "obj", "src_conv")
    return triples.select("subj", "pred", "obj").dropDuplicates()


def _prov_rows(
    transcripts: DataFrame, isa_edges: DataFrame, lex: Lexicon, run_id: str | None = None
) -> DataFrame:
    """``_assemble_triples``' per-conversation rows in the provenance
    shape: (subj, pred, obj, family, n_obs, n_convs, first_seen_run),
    ``n_convs`` 1 for a transcript row and 0 for an ontology row."""
    return _assemble_triples(transcripts, isa_edges, lex).select(
        "subj",
        "pred",
        "obj",
        "family",
        "n_obs",
        F.col("src_conv").isNotNull().cast("long").alias("n_convs"),
        F.lit(run_id).cast("string").alias("first_seen_run"),
    )


def _sum_prov(rows: DataFrame) -> DataFrame:
    """One (subj, pred, obj) row per triple of provenance-shaped
    ``rows``: ``min(family)``, summed counts, earliest
    ``first_seen_run``."""
    return rows.groupBy("subj", "pred", "obj").agg(
        F.min("family").alias("family"),
        F.sum("n_obs").alias("n_obs"),
        F.sum("n_convs").alias("n_convs"),
        F.min("first_seen_run").alias("first_seen_run"),
    )


def build_triples_prov(
    transcripts: DataFrame,
    terms: DataFrame,
    isa_edges: DataFrame,
    lex: Lexicon | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """Triple table with per-triple provenance props.

    Same (subj, pred, obj) set as ``build_triples`` — the P/R gate is
    unchanged — plus extraction-count metrics the reference keeps only
    in import-script logs (neo4j_cancerkg_builder.py counters):

    * ``family``  — which extraction rule produced it (min() of the
      tag: deterministic under the union order, and families are
      disjoint by predicate construction anyway)
    * ``n_obs``   — raw pre-dedup observation count (how often the
      fact was asserted across the corpus)
    * ``n_convs`` — distinct source conversations supporting it
      (0 for ontology rows, whose src is null)
    * ``first_seen_run`` — the producing run id; under MERGE upserts
      pass ``materialize.upsert(...,
      exclude_update_cols=["first_seen_run"])`` (or ``merge_into_sql``'s
      option of the same name) so the column is omitted from the WHEN
      MATCHED update list — first writer wins, giving first-seen
      lineage. The streaming snapshot merge keeps it first-seen via
      ``min`` over zero-padded run ids (incremental_extract_prov).

    The rows of ``_assemble_triples`` are distinct per source
    conversation, so ``n_obs`` and ``n_convs`` are sums of per-row
    counts (``_prov_rows``) — one aggregate (``_sum_prov``) on the key
    the plain path dedups on, after the turn exchange: provenance is
    free at scale. The stream drain feeds the existing snapshot's rows
    into the same aggregate, so a drop is merged in that one aggregate
    too.
    """
    if lex is None:
        lex = prepare_lexicon(terms)
    return _sum_prov(_prov_rows(transcripts, isa_edges, lex, run_id))


def build_nodes(triples: DataFrame, terms: DataFrame) -> DataFrame:
    """Node table: typed nodes for every triple endpoint.

    Endpoints with a lexicon row are ``resolved=true`` with props; the
    rest get stub rows (placeholder-node protocol,
    ``neo4j_cancerkg_builder.py:124-139``).

    The rows are the distinct endpoints left-joined to the term rows
    (one row per matching term row, duplicate ``term_id``s included),
    built as ONE aggregate: the endpoint rows and the term rows are
    unioned and grouped by id, a group is kept when it holds an
    endpoint, and its term props are exploded back out. The term rows
    go through that id exchange, so nothing is broadcast whatever the
    term table's size.
    """
    endpoints = (
        triples.select(F.col("subj").alias("id"))
        .union(triples.select("obj"))
        .select("id", F.lit(None).cast("map<string,string>").alias("props"), F.lit(1).alias("e"))
    )
    # a null term_id matches no endpoint in a join, the null one included
    term_rows = terms.filter(F.col("term_id").isNotNull()).select(
        F.col("term_id").alias("id"),
        F.create_map(
            F.lit("name"), F.col("name"), F.lit("namespace"), F.col("namespace")
        ).alias("props"),
        F.lit(0).alias("e"),
    )
    labeled = (
        endpoints.unionByName(term_rows)
        .groupBy("id")
        .agg(F.max("e").alias("e"), F.collect_list("props").alias("props"))
        .filter(F.col("e") == 1)
        .select("id", F.explode_outer("props").alias("props"))
        .withColumn(
            "label",
            F.when(F.col("id").startswith("turn:"), F.lit("Turn"))
            .when(F.col("id").startswith("conv:"), F.lit("Conversation"))
            .otherwise(F.lit("Term")),
        )
    )
    return labeled.select(
        "id",
        "label",
        "props",
        (F.col("props").isNotNull() | (F.col("label") != "Term")).alias("resolved"),
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    terms: DataFrame,
    isa_edges: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Returns (triples, nodes)."""
    triples = build_triples(transcripts, terms, isa_edges)
    nodes = build_nodes(triples, terms)
    return triples, nodes

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

Plan shape: the lexicon is prepared on the driver (``prepare_lexicon``)
and ONE exchange clusters the turns by conversation, sorted by
(conv_id, turn_idx). One extraction kernel
(``extract.extract_conversation_triples``) links each mention through
the driver maps and emits the MENTIONS, HAS_<NS>, CO_OCCURS_WITH and
NEXT_TURN rows distinct per conversation, each with its observation
count. The subjects of three of those families carry the conversation
id, so only CO_OCCURS_WITH and the ontology rows can repeat across
conversations. The resumable form (``with_src``) needs no further
exchange, the plain form one (subj, pred, obj) dedup, and
``build_triples_prov`` one aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import Accumulator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import extract, link


# The largest lexicon ``prepare_lexicon`` accepts, in term rows and in
# surfaces. Measured on synthetic 1-3-token surfaces (850k surfaces:
# 296 MB of driver dicts, 363 MB of automaton), a surface costs about
# 350 B of driver dicts and about 430 B of automaton in every
# extraction task, so the ceiling is about 0.7 GB on the driver and
# 0.9 GB per task.
MAX_SURFACES = 2_000_000


@dataclass
class Lexicon:
    """Prepared lexicon artifacts: built once per lexicon version, reused
    across every batch/stream run (dimension prep is not per-batch work —
    the reference likewise parses ontologies once up front,
    import_go_obo.py:64-145).

    ``surface_map`` (surface → (term_id, namespace)), ``canon_map`` (id
    → canonical id) and ``has_preds`` (namespace → ``HAS_<NS>``
    predicate) are driver dicts, broadcast into the extraction kernel
    and, for the ontology rows, into ``link.canonicalize``.
    ``surfaces`` is ``surface_map``'s key list: the automaton's input."""

    surfaces: list[str]
    surface_map: dict[str, tuple[str, str]]
    canon_map: dict[str, str]
    has_preds: dict[str | None, str | None]


def _has_pred():
    """The ``HAS_<NS>`` predicate of a row's namespace (null for null)."""
    return F.concat(F.lit("HAS_"), F.upper("namespace")).alias("has_pred")


def _too_large(count: str) -> ValueError:
    return ValueError(
        f"lexicon has {count}, above MAX_SURFACES={MAX_SURFACES}: a surface "
        "costs about 350 B of driver dicts and about 430 B of automaton in "
        "every extraction task"
    )


def prepare_lexicon(terms: DataFrame) -> Lexicon:
    """Build the per-lexicon artifacts once, from ONE bounded collect of
    the term rows (one Spark job, no cache): ``link.surface_map`` and
    ``link.canonical_map`` apply the surface and same-as rules on the
    driver, and the same collect upper-cases every namespace in the JVM
    for the ``HAS_<NS>`` predicates, so they equal what ``F.upper``
    gives. The reference likewise parses whole ontologies driver-side
    (import_go_obo.py:64-145).

    Raises ``ValueError`` when the term rows or their surfaces exceed
    ``MAX_SURFACES``: the driver dicts and every task's automaton grow
    with the surface count, and no other lexicon path exists.
    """
    rows = (
        terms.select(
            "term_id", "name", "namespace", "synonyms", "alt_ids", "is_obsolete", _has_pred()
        )
        .limit(MAX_SURFACES + 1)
        .collect()
    )
    if len(rows) > MAX_SURFACES:
        raise _too_large(f"more than {MAX_SURFACES} term rows")
    surface_map = link.surface_map(rows)
    if len(surface_map) > MAX_SURFACES:
        raise _too_large(f"{len(surface_map)} surfaces")
    return Lexicon(
        surfaces=list(surface_map),
        surface_map=surface_map,
        canon_map=link.canonical_map(rows),
        has_preds={r.namespace: r.has_pred for r in rows},
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
    """The transcript triples, distinct per conversation.

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
    turns by ``cluster_by``). The ontology rows are dimension-scale:
    they are rewritten through ``lex.canon_map`` and counted in one
    partition, which needs no exchange.
    """
    onto = isa_edges.select(
        link.edge_strip("subject_id").alias("subj"),
        normalize_predicate(F.col("predicate")).alias("pred"),
        link.edge_strip("object_id").alias("obj"),
        F.lit(None).cast("string").alias("src_conv"),
        F.lit("ontology").alias("family"),
    )
    rows = _conversation_triples(transcripts, lex, cluster_by, tally)
    onto = (
        link.canonicalize(onto, lex.canon_map, ["subj", "obj"])
        .coalesce(1)
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
    sums (the resumable writer's ledger quality). It needs ``with_src``
    and an input carrying ``bucket`` and ``extract.QUALITY_COLS``; the
    triples do not change.

    INPUT CONTRACT: one row per (conv_id, turn_idx) — the transcript
    input hint's shape, and what "per-turn text equality under stable
    (conv_id, turn_idx) ordering" presumes. Duplicate turn rows would
    make the kernel pair co-occurring terms per ROW rather than per
    TURN, and give the duplicated turn a NEXT_TURN edge to itself;
    de-duplicate upstream (``canon.dedup_keep_first``) before calling
    if the source can emit duplicates.
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
    term table's size. Both endpoints of a triple come out of one
    projection of its row, so the triples are read (and, over
    ``checkpoint.read_triples``, deduped) once.
    """
    endpoints = triples.select(
        F.explode(F.array("subj", "obj")).alias("id"),
        F.lit(None).cast("map<string,string>").alias("props"),
        F.lit(1).alias("e"),
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


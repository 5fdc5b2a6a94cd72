"""End-to-end pipeline correctness: P/R vs the pandas reference oracle,
plus the invariants the reference's CQL verification blocks check
(SURVEY.md §5.2)."""

import pytest
from pyspark.sql import functions as F

from kgflow import reference_oracle as ro
from reference import precision_recall
from kgflow.plans import pipeline


def _persisted(sc) -> set[int]:
    """Ids of the RDDs persisted now. A test checks that it added none by
    comparing id sets, not counts: the context cleaner may unpersist an
    earlier test's RDD while it runs."""
    return set(sc._jsc.getPersistentRDDs().keySet())


def _got_triples(spark, transcripts, lexicon):
    terms, isa = lexicon
    triples = pipeline.build_triples(transcripts, terms, isa)
    return triples, pipeline.build_nodes(triples, terms)


def test_triple_pr_vs_reference_oracle(spark, transcripts, lexicon, lexicon_pdf):
    terms_pdf, isa_pdf = lexicon_pdf
    triples, _ = _got_triples(spark, transcripts, lexicon)
    got = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    exp = ro.expected_triples(transcripts.toPandas(), terms_pdf, isa_pdf)
    p, r = precision_recall(got, exp)
    # both sides deterministic → exact match (target is ≥0.95)
    assert p == 1.0 and r == 1.0, (p, r, len(got), len(exp))


def test_triples_unique(spark, transcripts, lexicon):
    triples, _ = _got_triples(spark, transcripts, lexicon)
    total = triples.count()
    distinct = triples.dropDuplicates(["subj", "pred", "obj"]).count()
    assert total == distinct


def test_no_reciprocal_symmetric_edges(spark, transcripts, lexicon):
    """uniprot_intact.cql:54-58 invariant: zero reciprocal pairs."""
    triples, _ = _got_triples(spark, transcripts, lexicon)
    co = triples.filter(F.col("pred") == "CO_OCCURS_WITH")
    a = co.select("subj", "obj")
    b = co.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    assert a.join(b, ["subj", "obj"]).count() == 0
    # and all pairs are canonically ordered
    assert co.filter(F.col("subj") >= F.col("obj")).count() == 0


def test_obsolete_terms_never_link(spark, transcripts, lexicon):
    """import_go_obo.py:105 — obsolete terms must not receive mentions."""
    terms, _ = lexicon
    triples, _ = _got_triples(spark, transcripts, lexicon)
    obsolete = [r.term_id for r in terms.filter("is_obsolete").collect()]
    hits = triples.filter(F.col("pred") == "MENTIONS").filter(
        F.col("obj").isin(obsolete)
    )
    assert hits.count() == 0


def test_idempotent_rerun(spark, transcripts, lexicon):
    """MERGE semantics: running the import twice yields identical sets."""
    t1, _ = _got_triples(spark, transcripts, lexicon)
    t2, _ = _got_triples(spark, transcripts, lexicon)
    s1 = {tuple(r) for r in t1.collect()}
    s2 = {tuple(r) for r in t2.collect()}
    assert s1 == s2


def test_nodes_cover_all_endpoints(spark, transcripts, lexicon):
    triples, nodes = _got_triples(spark, transcripts, lexicon)
    endpoints = triples.select(F.col("subj").alias("id")).union(
        triples.select("obj")
    ).distinct()
    missing = endpoints.join(nodes, "id", "left_anti").count()
    assert missing == 0
    # node ids unique per (label,id)
    assert nodes.count() == nodes.dropDuplicates(["label", "id"]).count()


def test_per_turn_text_equality_roundtrip(spark, transcripts, tmp_path):
    """input_hint invariant: per-turn text byte-equality under stable
    (conv_id, turn_idx) ordering after a staging round-trip."""
    path = str(tmp_path / "staged")
    (
        transcripts.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int"))
        .repartition("bucket")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    orig = transcripts.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    rt = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert orig == rt


def test_triples_prov_matches_plain(spark, transcripts, lexicon):
    """Provenance aggregate: same (subj,pred,obj) set as build_triples,
    family consistent with predicate, support counts sane, and
    first_seen_run stamped."""
    terms, isa = lexicon
    plain = pipeline.build_triples(transcripts, terms, isa)
    prov = pipeline.build_triples_prov(transcripts, terms, isa, run_id="r1")
    assert prov.count() == plain.count()
    assert (
        prov.select("subj", "pred", "obj")
        .exceptAll(plain.select("subj", "pred", "obj"))
        .count()
        == 0
    )
    rows = prov.collect()
    fam_by_pred = {
        "MENTIONS": "mention",
        "CO_OCCURS_WITH": "cooccur",
        "NEXT_TURN": "next_turn",
    }
    for r in rows:
        assert r.n_obs >= 1
        assert r.first_seen_run == "r1"
        if r.pred in fam_by_pred:
            assert r.family == fam_by_pred[r.pred]
        elif r.pred.startswith("HAS_"):
            assert r.family == "conv_ns"
        if r.family == "ontology":
            assert r.n_convs == 0
        else:
            assert 1 <= r.n_convs <= r.n_obs
    # n_obs totals the pre-dedup observations (each pre-dedup row
    # carries its count)
    raw = (
        pipeline._assemble_triples(transcripts, isa, pipeline.prepare_lexicon(terms))
        .agg(F.sum("n_obs"))
        .first()[0]
    )
    assert sum(r.n_obs for r in rows) == raw


def test_lexicon_surface_ceiling(spark, transcripts, lexicon, lexicon_pdf, monkeypatch):
    """``MAX_SURFACES`` is the lexicon's one ceiling, and it is inclusive:
    a lexicon of exactly that many surfaces builds the driver maps and
    gives the oracle's triples; one surface more, or more term rows than
    the ceiling, raises ``ValueError`` naming the count — no other
    lexicon path takes over."""
    terms, isa = lexicon
    terms_pdf, isa_pdf = lexicon_pdf
    n = len(ro._surface_map(terms_pdf))
    assert len(terms_pdf) < n  # the surface count, not the row count, trips
    monkeypatch.setattr(pipeline, "MAX_SURFACES", n)
    lex = pipeline.prepare_lexicon(terms)
    assert len(lex.surface_map) == len(lex.surfaces) == n
    got = {
        (r.subj, r.pred, r.obj)
        for r in pipeline.build_triples(transcripts, terms, isa, lex=lex).collect()
    }
    assert got == ro.expected_triples(transcripts.toPandas(), terms_pdf, isa_pdf)
    monkeypatch.setattr(pipeline, "MAX_SURFACES", n - 1)
    with pytest.raises(ValueError, match=f"lexicon has {n} surfaces"):
        pipeline.prepare_lexicon(terms)
    # below the term row count the bounded collect itself trips
    rows = len(terms_pdf)
    monkeypatch.setattr(pipeline, "MAX_SURFACES", rows - 1)
    with pytest.raises(ValueError, match=f"lexicon has more than {rows - 1} term rows"):
        pipeline.prepare_lexicon(terms)


def _frames(spark, term_rows, isa_rows, turn_rows=()):
    """Spark frames and pandas frames (the oracle's input) of the rows."""
    import pandas as pd

    from kgflow import schemas

    shapes = (
        (term_rows, schemas.LEXICON_TERM),
        (isa_rows, schemas.LEXICON_ISA_EDGE),
        (list(turn_rows), schemas.TRANSCRIPT),
    )
    return (
        [spark.createDataFrame(rows, schema) for rows, schema in shapes],
        [pd.DataFrame(rows, columns=schema.fieldNames()) for rows, schema in shapes],
    )


def test_surfaces_with_non_space_whitespace(spark):
    """Lexicon surfaces holding a double space, an inner tab or an edge
    tab: the pipeline must not miss a driver-dict lookup, nor let a
    surface that the oracle can never match consume tokens another
    surface needs — the triples equal the oracle's."""
    term_rows = [
        ("T1", "alpha  kinase", "ns1", None, [], [], [], False),
        ("T2", "beta\treceptor", "ns2", None, [], [], [], False),
        ("T3", "gamma factor\t", "ns1", None, [], [], ["T3_ALT"], False),
        ("T4", "kinase beta", "ns2", None, ["\tdelta kinase "], [], [], False),
    ]
    isa_rows = [("T4", "is_a", "T3")]
    turn_rows = [
        ("c1", 0, "user", "the alpha kinase beta receptor then gamma factor", None, None),
        ("c1", 1, "asst", "alpha  kinase beta\treceptor", None, None),
        ("c2", 0, "user", "Delta Kinase and gamma factor\tkinase beta", None, None),
    ]
    (terms, isa, tr), (terms_pdf, isa_pdf, tr_pdf) = _frames(spark, term_rows, isa_rows, turn_rows)
    exp = ro.expected_triples(tr_pdf, terms_pdf, isa_pdf)
    assert {("turn:c1:0", "MENTIONS", "T4"), ("turn:c2:0", "MENTIONS", "T3")} <= exp
    got = {(r.subj, r.pred, r.obj) for r in pipeline.build_triples(tr, terms, isa).collect()}
    assert precision_recall(got, exp) == (1.0, 1.0), got ^ exp


def test_ids_and_predicates_with_non_space_edge_whitespace(spark):
    """An alt id with a leading space, an is-a subject with a trailing
    tab and a predicate wrapped in a space and a tab: ids and predicates
    are edge-stripped as the oracle's ``str.strip()`` strips them — the
    canonical id is ``A0``, not ``" A0"``."""
    term_rows = [
        ("T1", "alpha kinase", "ns1", None, [], [], [" A0"], False),
        ("T2", "beta receptor", "ns2", None, [], [], [], False),
    ]
    isa_rows = [("T2\t", "is_a", "T1"), ("T1", " part of\t", "T2")]
    turn_rows = [("c1", 0, "user", "alpha kinase binds beta receptor", None, None)]
    (terms, isa, tr), (terms_pdf, isa_pdf, tr_pdf) = _frames(spark, term_rows, isa_rows, turn_rows)
    exp = ro.expected_triples(tr_pdf, terms_pdf, isa_pdf)
    assert {("T2", "IS_A", "A0"), ("A0", "PART_OF", "T2")} <= exp
    got = {(r.subj, r.pred, r.obj) for r in pipeline.build_triples(tr, terms, isa).collect()}
    assert got == exp, got ^ exp


def test_lexicon_paths_match_oracle_maps(spark):
    """The lexicon's driver maps equal the oracle's surface map and
    canonical map on a lexicon with null names and synonyms, a
    synonym equal to its name, a case collision across namespaces, an
    obsolete term with alt ids, a self alt id, an alt chain across terms
    and alt ids that are padded or only whitespace."""
    term_rows = [
        ("T1", None, "ns1", None, None, [], ["A1 "], False),
        ("T2", "Alpha Kinase", "ns1", None, ["Alpha Kinase", " AK\t"], [], ["T2"], False),
        ("T0", "ALPHA kinase", "ns2", None, [], [], [], False),
        ("T3", "old thing", "ns1", None, ["legacy"], [], ["A3", "T4"], True),
        ("T4", "beta", "ns2", None, [], [], ["A4"], False),
        ("T5", "gamma", "ns1", None, None, [], ["A4", "\t"], False),
        ("T6", "  ", "ns1", None, ["\u3000"], [], [], False),
    ]
    (terms, _, _), (terms_pdf, _, _) = _frames(spark, term_rows, [])
    exp_surfaces = ro._surface_map(terms_pdf)
    exp_canon = ro._canonical_map(terms_pdf)
    assert exp_surfaces["alpha kinase"] == ("T0", "ns2") and len(exp_surfaces) == 4
    assert exp_canon == {"T1": "A1", "T3": "A3", "T4": "A3", "A4": "A3", "T5": "A3"}
    lex = pipeline.prepare_lexicon(terms)
    assert lex.surface_map == exp_surfaces
    # the oracle's union-find lists only ids that are not their own
    # canonical id
    assert {k: v for k, v in lex.canon_map.items() if k != v} == exp_canon


def test_prepare_lexicon_is_one_job(spark, lexicon, tmp_path):
    """A dimension-scale lexicon is prepared from one bounded collect of
    the term rows: exactly one Spark job, and no cached frame left
    behind."""
    terms, _ = lexicon
    path = str(tmp_path / "terms")
    terms.coalesce(1).write.parquet(path)
    terms = spark.read.parquet(path)
    sc = spark.sparkContext
    persisted = _persisted(sc)
    group = "test-prepare-lexicon"
    sc.setJobGroup(group, "prepare_lexicon")
    try:
        lex = pipeline.prepare_lexicon(terms)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert lex.surface_map
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _persisted(sc) <= persisted


def test_driver_lexicon_ontology_rewrite_has_no_join(spark, transcripts, lexicon):
    """The ontology rows are canonicalized through the broadcast
    ``canon_map`` in a narrow Arrow stage: the executed plan has no
    BroadcastHashJoin."""
    terms, isa = lexicon
    df = pipeline.build_triples(transcripts, terms, isa)
    df.collect()
    assert "BroadcastHashJoin" not in df._jdf.queryExecution().executedPlan().toString()


def test_canonicalize_matches_apply_canonical(spark):
    """``link.canonicalize`` through a driver dict equals
    ``canon_map.get(x, x)`` on the collected rows: mapped ids rewritten,
    unmapped ids and nulls kept, other columns untouched."""
    from kgflow.operators import link

    df = spark.createDataFrame(
        [("a", "b", 1), ("b", None, 2), (None, "x", 3), ("x", "a", 4)],
        "s string, o string, n int",
    )
    cmap = {"a": "A", "b": "A", "c": "C"}
    got = link.canonicalize(df, cmap, ["s", "o"])
    assert got.schema == df.schema
    want = [(cmap.get(s, s), cmap.get(o, o), n) for s, o, n in df.collect()]
    assert sorted(map(tuple, got.collect()), key=str) == sorted(want, key=str)
    assert sorted(map(tuple, link.canonicalize(df, {}, ["s"]).collect()), key=str) == sorted(
        map(tuple, df.collect()), key=str
    )


def _union_formulation(transcripts, isa, lex):
    """The exploded pre-dedup union the conversation kernel replaces, one
    row per observation: per-turn grouped extraction exploded back to
    mentions, per-turn distinct term sets expanded to pairs, a lead()
    window for NEXT_TURN and the canonicalized ontology rows."""
    from pyspark.sql.window import Window

    from kgflow.operators import extract, link

    def triple(subj, pred, obj, family):
        return [
            subj.alias("subj"),
            pred.alias("pred"),
            obj.alias("obj"),
            F.col("conv_id").alias("src_conv"),
            F.lit(family).alias("family"),
        ]

    grouped = extract.extract_linked_terms_grouped(transcripts, lex.surface_map, lex.canon_map)
    linked = grouped.select(
        "conv_id", "turn_idx", F.explode(F.arrays_zip("term_ids", "namespaces")).alias("m")
    )
    turn = F.concat(F.lit("turn:"), "conv_id", F.lit(":"), F.col("turn_idx"))
    term = F.col("m.term_ids")
    mentions = linked.select(*triple(turn, F.lit("MENTIONS"), term, "mention"))
    has_ns = linked.select(
        *triple(
            F.concat(F.lit("conv:"), "conv_id"),
            F.concat(F.lit("HAS_"), F.upper("m.namespaces")),
            term,
            "conv_ns",
        )
    )
    ts = grouped.select("conv_id", F.array_sort(F.array_distinct("term_ids")).alias("ts"))
    pairs = F.flatten(
        F.transform(
            "ts",
            lambda x, i: F.transform(
                F.slice("ts", i + 2, F.size("ts")), lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )
    co = ts.select("conv_id", F.explode(pairs).alias("p")).select(
        *triple(F.col("p.a"), F.lit("CO_OCCURS_WITH"), F.col("p.b"), "cooccur")
    )
    nxt_idx = F.lead("turn_idx").over(Window.partitionBy("conv_id").orderBy("turn_idx"))
    nxt = (
        transcripts.select("conv_id", "turn_idx", nxt_idx.alias("n"))
        .filter(F.col("n").isNotNull())
        .select(
            *triple(
                turn,
                F.lit("NEXT_TURN"),
                F.concat(F.lit("turn:"), "conv_id", F.lit(":"), F.col("n")),
                "next_turn",
            )
        )
    )
    onto = link.canonicalize(
        isa.select(
            link.edge_strip("subject_id").alias("subj"),
            pipeline.normalize_predicate(F.col("predicate")).alias("pred"),
            link.edge_strip("object_id").alias("obj"),
            F.lit(None).cast("string").alias("src_conv"),
            F.lit("ontology").alias("family"),
        ),
        lex.canon_map,
        ["subj", "obj"],
    )
    return mentions.unionByName(has_ns).unionByName(co).unionByName(nxt).unionByName(onto)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_conversation_kernel_matches_union_formulation(spark):
    """build_triples, its with_src form and build_triples_prov equal the
    exploded-union formulation (dedup, dedup with src_conv, count +
    count_distinct) on a hostile fixture: conversations spanning Arrow
    batches of 3 rows, null and empty text inside a conversation, a term
    repeated in a turn, single-turn conversations, non-ASCII and null
    namespaces (two that upper-case alike, and "ɤ", which Spark's upper
    maps to U+A7CB and Python's str.upper leaves as it is), non-ASCII
    term ids whose
    UTF-16 order differs from their code point order, alt-id
    canonicalization, duplicated is-a rows and one long conversation."""
    terms = spark.createDataFrame(
        [
            ("A:1", "alpha", "go", None, ["alef"], None, [], False),
            ("A:2", "beta", "GO", None, [], None, ["A:1x"], False),
            ("Ａ:3", "gamma ray", "straße", None, [], None, [], False),
            ("\U0001F600:4", "delta", "ɤ", None, [], None, [], False),
            ("é:5", "epsilon", None, None, [], None, [], False),
            ("z:6", "zeta", "σς", None, [], None, ["A:2"], False),
            ("o:7", "omega", "go", None, [], None, [], True),
        ],
        "term_id string, name string, namespace string, definition string, "
        "synonyms array<string>, xrefs array<string>, alt_ids array<string>, is_obsolete boolean",
    )
    isa = spark.createDataFrame(
        [("z:6", "is_a", "A:1x"), ("z:6", "is_a", "A:1x"), (" é:5 ", "part of", "Ａ:3")],
        "subject_id string, predicate string, object_id string",
    )
    texts = [
        "alpha beta gamma ray delta epsilon zeta",
        None,
        "alpha alpha alef beta",
        "",
        "zeta omega delta",
        "nothing here",
        "gamma ray epsilon",
    ]
    rows = [("c-long", i, "user", texts[i % len(texts)]) for i in range(40)]
    rows += [(f"c-{k}", 0, "user", texts[k % len(texts)]) for k in range(7)]
    rows += [
        ("c-über", 2, "asst", "delta alpha"),
        ("c-über", 0, "user", None),
        ("c-über", 1, "user", "beta zeta zeta"),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    ).repartition(3)
    lex = pipeline.prepare_lexicon(terms)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        union = _union_formulation(tr, isa, lex)
        plain = pipeline.build_triples(tr, terms, isa, lex=lex)
        with_src = pipeline.build_triples(tr, terms, isa, lex=lex, with_src=True)
        bucketed = pipeline.build_triples(
            tr.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")),
            terms,
            isa,
            lex=lex,
            with_src=True,
        )
        prov = pipeline.build_triples_prov(tr, terms, isa, lex=lex, run_id="r")
        assert _rows(plain) == _rows(union.select("subj", "pred", "obj").dropDuplicates())
        want_src = _rows(union.select("subj", "pred", "obj", "src_conv").dropDuplicates())
        assert _rows(with_src) == want_src
        assert _rows(bucketed) == want_src
        want_prov = union.groupBy("subj", "pred", "obj").agg(
            F.min("family").alias("family"),
            F.count(F.lit(1)).alias("n_obs"),
            F.count_distinct("src_conv").alias("n_convs"),
        )
        assert _rows(prov.drop("first_seen_run")) == _rows(want_prov)
    finally:
        spark.conf.set(key, prev)
    preds = {r[1] for r in _rows(plain)}
    # the fixture reaches what it is meant to reach
    want = {"HAS_GO", "HAS_STRASSE", "HAS_\ua7cb", None, "NEXT_TURN", "CO_OCCURS_WITH", "IS_A"}
    assert want <= preds
    assert ("\U0001F600:4", "CO_OCCURS_WITH", "Ａ:3") not in _rows(plain)
    assert ("Ａ:3", "CO_OCCURS_WITH", "\U0001F600:4") in _rows(plain)


def test_triple_plans_shuffle_turns_once(spark, transcripts, lexicon, exchanges):
    """build_triples_prov shuffles twice (the turn rows by conversation,
    then the (subj, pred, obj) aggregate), build_triples' with_src form
    once, and neither persists an RDD: the extraction is not
    checkpointed."""
    terms, isa = lexicon
    lex = pipeline.prepare_lexicon(terms)
    sc = spark.sparkContext
    persisted = _persisted(sc)

    assert exchanges(pipeline.build_triples_prov(transcripts, terms, isa, lex=lex)) == 2
    assert exchanges(pipeline.build_triples(transcripts, terms, isa, lex=lex, with_src=True)) == 1
    pipeline.build_triples(transcripts, terms, isa, lex=lex).collect()
    assert _persisted(sc) <= persisted


_TERMS_SCHEMA = (
    "term_id string, name string, namespace string, definition string, "
    "synonyms array<string>, xrefs array<string>, alt_ids array<string>, is_obsolete boolean"
)


def _node_rows(df):
    return sorted(
        ((r.id, r.label, None if r.props is None else sorted(r.props.items()), r.resolved) for r in df.collect()),
        key=repr,
    )


def _final_aggregates(plan, keys) -> int:
    """Final-mode HashAggregates grouped on exactly ``keys`` in an
    executed plan, each counted once per execution: adaptive plans and
    query stages are entered, a reused exchange is not."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _final_aggregates(plan.executedPlan(), keys)
    if name.endswith("QueryStage"):
        return _final_aggregates(plan.plan(), keys)
    own = False
    # a final-mode aggregate requires its input clustered by its keys
    if name == "HashAggregate" and plan.requiredChildDistributionExpressions().isDefined():
        grouping = plan.groupingExpressions()
        own = [grouping.apply(i).name() for i in range(grouping.size())] == keys
    children = plan.children()
    return int(own) + sum(
        _final_aggregates(children.apply(i), keys) for i in range(children.size())
    )


def test_build_nodes_matches_broadcast_join(spark, transcripts, lexicon, tmp_path):
    """build_nodes' one-aggregate form gives the rows of the distinct
    endpoints left-joined to a broadcast of the term rows — duplicate
    term_ids, a null term_id, null endpoints, term ids no triple
    references and a turn:-prefixed term id included — and its plan over
    read_triples broadcasts nothing."""
    from kgflow.plans import checkpoint as cp

    terms = spark.createDataFrame(
        [
            ("A:1", "alpha", "go", None, [], None, [], False),
            ("A:1", "alpha bis", None, None, [], None, [], False),
            ("A:2", None, None, None, [], None, [], False),
            (None, "nameless", "go", None, [], None, [], False),
            ("unused:9", "unused", "go", None, [], None, [], False),
            ("turn:c:0", "turn term", "odd", None, [], None, [], False),
        ],
        _TERMS_SCHEMA,
    )
    triples = spark.createDataFrame(
        [
            ("turn:c:0", "MENTIONS", "A:1"),
            ("turn:c:0", "NEXT_TURN", "turn:c:1"),
            ("conv:c", "HAS_GO", "A:1"),
            ("A:1", "CO_OCCURS_WITH", "A:2"),
            ("A:2", "IS_A", "B:3"),
            (None, "IS_A", "A:2"),
            ("B:3", "IS_A", None),
        ],
        "subj string, pred string, obj string",
    )

    def broadcast_join(triples, terms):
        endpoints = (
            triples.select(F.col("subj").alias("id")).union(triples.select("obj")).distinct()
        )
        labeled = endpoints.withColumn(
            "label",
            F.when(F.col("id").startswith("turn:"), F.lit("Turn"))
            .when(F.col("id").startswith("conv:"), F.lit("Conversation"))
            .otherwise(F.lit("Term")),
        )
        term_props = terms.select(
            F.col("term_id").alias("id"),
            F.create_map(
                F.lit("name"), F.col("name"), F.lit("namespace"), F.col("namespace")
            ).alias("props"),
        )
        return labeled.join(F.broadcast(term_props), "id", "left").select(
            "id",
            "label",
            "props",
            (F.col("props").isNotNull() | (F.col("label") != "Term")).alias("resolved"),
        )

    got = pipeline.build_nodes(triples, terms)
    assert got.schema == broadcast_join(triples, terms).schema
    assert _node_rows(got) == _node_rows(broadcast_join(triples, terms))
    # the fixture reaches what it is meant to reach
    ids = [r[0] for r in _node_rows(got)]
    assert ids.count("A:1") == 2 and None in ids and "unused:9" not in ids

    t, isa = lexicon
    d = str(tmp_path / "nodes")
    cp.run_resumable(spark, transcripts, t, isa, d, buckets=4)
    nodes = pipeline.build_nodes(cp.read_triples(spark, d), t)
    assert _node_rows(nodes) == _node_rows(broadcast_join(cp.read_triples(spark, d), t))
    executed = nodes._jdf.queryExecution().executedPlan()
    assert "Broadcast" not in executed.toString(), executed.toString()
    # read_triples' dedup runs once: both endpoints of a triple come out
    # of one projection of its deduped row
    assert _final_aggregates(executed, ["subj", "pred", "obj"]) == 1, executed.toString()

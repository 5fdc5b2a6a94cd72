"""Round-2 operators: S8 nested-record parse, J3 prefix join, J12
bounded paths, S9 BibTeX, E7 embedding provenance."""

from pyspark.sql import functions as F

from kgflow.operators import canon, docparse, extract, link
from kgflow.sources import readers


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "en", "web", "alpha beta gamma delta epsilon zeta eta theta iota "
                             "kappa lam mu nu xi omicron pi rho sigma tau upsilon phi"),
            (2, "de", "books", "one two three"),
        ],
        "doc_id long, lang string, source string, text string",
    )


def test_docparse_roundtrip_fields(spark):
    """synth → to_json → from_json → labeled-section concat."""
    recs = docparse.synth_json_records(_docs(spark))
    parsed = docparse.parse_records(recs).orderBy("pmid")
    rows = parsed.collect()
    r1 = next(r for r in rows if r.pmid == "1")
    assert r1.title == "alpha beta gamma delta epsilon"
    # section 1 labeled, section 2 unlabeled (reference _get_abstract rule)
    assert r1.abstract.startswith("BACKGROUND: zeta eta theta")
    assert "nu xi omicron" in r1.abstract and ": nu" not in r1.abstract
    assert [a.initials for a in r1.authors] == ["A1", "A2"]  # 1 + 1%3 = 2
    assert r1.mesh == ["EN", "WEB"]
    r2 = next(r for r in rows if r.pmid == "2")
    assert r2.abstract.strip() == "BACKGROUND:"  # too short for sections
    assert len(r2.authors) == 3  # 1 + 2%3


def test_docparse_edge_triples_positions(spark):
    recs = docparse.synth_json_records(_docs(spark))
    triples = docparse.doc_edge_triples(docparse.parse_records(recs))
    got = {(r.subj, r.pred, r.obj, r.pos) for r in triples.collect()}
    assert ("author:Auth1_1:A1", "AUTHORED", "pmid:1", 1) in got
    assert ("author:Auth1_2:A2", "AUTHORED", "pmid:1", 2) in got
    assert ("author:Auth2_3:A3", "AUTHORED", "pmid:2", 3) in got
    assert ("pmid:1", "HAS_MESH_TERM", "mesh:EN", None) in got
    assert ("pmid:2", "HAS_MESH_TERM", "mesh:BOOKS", None) in got
    # MERGE idempotence: union with itself changes nothing
    doubled = docparse.doc_edge_triples(
        docparse.parse_records(recs.unionByName(recs))
    )
    assert doubled.count() == triples.count()


def test_prefix_match_join(spark):
    """STARTS WITH via derived-key equi join (import_cosmic_genes.cql).

    Exact STARTS WITH semantics (ADVICE round-2): boundary-free
    prefixes match (BRCA1 → BRCA12_HUMAN), dims containing the
    separator match (ABC_1 → ABC_1_HUMAN), and a fact equal to the dim
    matches exactly once."""
    entries = spark.createDataFrame(
        [
            ("BRCA1_HUMAN",),
            ("BRCA1_MOUSE",),
            ("BRCA12_HUMAN",),
            ("TP53_HUMAN",),
            ("ABC_1_HUMAN",),
            ("BRCA1",),
            ("NOSEP",),
        ],
        "entry_name string",
    )
    genes = spark.createDataFrame(
        [("BRCA1",), ("EGFR",), ("ABC_1",)], "symbol string"
    )
    rows = link.prefix_match_join(entries, genes, "entry_name", "symbol").collect()
    got = {(r.entry_name, r.symbol) for r in rows}
    assert got == {
        ("BRCA1_HUMAN", "BRCA1"),
        ("BRCA1_MOUSE", "BRCA1"),
        ("BRCA12_HUMAN", "BRCA1"),
        ("ABC_1_HUMAN", "ABC_1"),
        ("BRCA1", "BRCA1"),
    }
    assert len(rows) == len(got)  # no duplicate pairs from the fan-out


def test_bounded_paths_min_depth(spark):
    """a→b→c→d→e chain + diamond: depths capped at 3, min wins."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c")],
        "src string, dst string",
    )
    got = {
        (r.src, r.dst): r.min_depth
        for r in canon.bounded_paths(edges, max_hops=3).collect()
    }
    assert got[("a", "b")] == 1
    assert got[("a", "c")] == 1  # direct edge beats the 2-hop path
    assert got[("a", "d")] == 2  # via the a→c shortcut
    assert got[("a", "e")] == 3
    assert ("b", "e") in got and got[("b", "e")] == 3
    # no >3-hop pairs, no 0-hop self pairs
    assert all(1 <= d <= 3 for d in got.values())


def test_hash_embedding_provenance(spark):
    df = spark.createDataFrame([("hello world",)], "text string")
    out = extract.hash_embedding(
        df, dim=8, model="hash-v1", embedded_at=1700000000.0
    ).collect()[0]
    assert out.embedding_model == "hash-v1"
    assert out.embedded_at is not None
    # without model: no provenance columns (back-compat)
    cols = extract.hash_embedding(df, dim=8).columns
    assert "embedding_model" not in cols


def test_ntriples_parse_edge_cases(spark):
    lines = spark.createDataFrame(
        [
            ("<urn:a> <urn:p> <urn:b> .",),
            ('<urn:a> <urn:name> "Alpha Beta" .',),
            ('<urn:a> <urn:desc> "x y"@en .',),
            ('<urn:a> <urn:count> "42"^^<http://www.w3.org/2001/XMLSchema#int> .',),
            ("# a comment line",),
            ("",),
            ("garbage that is not a triple",),
            ('<urn:c> <urn:says> "quote \\" inside" .',),
        ],
        "value string",
    )
    got = {tuple(r) for r in readers.parse_ntriples(lines).collect()}
    assert got == {
        ("urn:a", "urn:p", "urn:b", False),
        ("urn:a", "urn:name", "Alpha Beta", True),
        ("urn:a", "urn:desc", "x y", True),
        ("urn:a", "urn:count", "42", True),
        ("urn:c", "urn:says", 'quote \\" inside', True),
    }


def test_xml_parse_matches_json_parse(spark):
    """S8 XML wire format (from_xml) must land in the identical contract
    as the JSON path — same rows, including XML-escaped specials and
    empty-section edge cases — so one oracle checks both formats."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta eps one two three four five s & x <y> n t e tw th fo fi si", "en", "web"),
            (2, "", "fr", "book"),
            (7, "short text only", "de", "arxiv"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    via_xml = docparse.parse_xml_records(docparse.synth_xml_records(docs))
    via_json = docparse.parse_records(docparse.synth_json_records(docs))
    assert sorted(map(tuple, via_xml.collect())) == sorted(
        map(tuple, via_json.collect())
    )
    # and the downstream edge emitter is format-agnostic
    ex = {tuple(r) for r in docparse.doc_edge_triples(via_xml).collect()}
    ej = {tuple(r) for r in docparse.doc_edge_triples(via_json).collect()}
    assert ex == ej and ex

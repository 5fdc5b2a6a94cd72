"""Property test: the Spark matcher and the pandas oracle implement the
same greedy longest-match semantics on adversarial random texts
(overlapping surfaces, near-miss prefixes, odd whitespace, case)."""

import functools
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from kgflow import synth
from kgflow.operators.extract import TokenAhoCorasick
from kgflow.reference_oracle import _scan

SURFACES = [
    "alpha kinase",
    "alpha kinase beta",
    "beta",
    "beta receptor",
    "gamma",
    "alpha",  # single-token surface that prefixes the two-token ones
]
VOCAB = ["alpha", "kinase", "beta", "receptor", "gamma", "the", "x", "Y"]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=30),
    st.sampled_from([" ", "  ", "\t", " \n "]),
)
def test_matcher_equals_oracle_scan(words, sep):
    text = sep.join(words)
    spark_side = [s for s, _, _ in TokenAhoCorasick(SURFACES).find(text)]

    surf_map = {s.lower(): (s.lower(), "ns") for s in SURFACES}
    max_len = max(len(s.split()) for s in SURFACES)
    oracle_side = [t for t, _ in _scan(text, surf_map, max_len)]

    assert spark_side == oracle_side


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abk αβ\t", min_size=0, max_size=40))
def test_matcher_never_crashes_on_garbage(text):
    out = TokenAhoCorasick(SURFACES).find(text)
    # offsets are sane and non-overlapping
    toks = text.lower().split()
    prev_end = 0
    for surface, s, e in out:
        assert 0 <= s < e <= len(toks)
        assert s >= prev_end
        prev_end = e
        assert " ".join(toks[s:e]) == surface


@functools.cache
def _bench_lexicon():
    """The kg_pipeline bench lexicon (300 terms): three-token surfaces
    whose few head tokens each fan out to many patterns."""
    terms, _ = synth.make_lexicon(300)
    surfaces = sorted({s.lower() for r in terms.itertuples() for s in [r.name, *r.synonyms]})
    surf_map = {s: (s, "ns") for s in surfaces}
    max_len = max(len(s.split()) for s in surfaces)
    return surfaces, TokenAhoCorasick(surfaces), surf_map, max_len


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 2**32 - 1), st.sampled_from([1.0, 3.0]))
def test_matcher_equals_oracle_scan_bench_lexicon(seed, zipf_s):
    surfaces, ac, surf_map, max_len = _bench_lexicon()
    rng = random.Random(seed)
    text = " ".join(synth._turn_text(rng, surfaces, zipf_s) for _ in range(3))
    got = [s for s, _, _ in ac.find(text)]
    assert got == [t for t, _ in _scan(text, surf_map, max_len)]


def test_bounded_paths_matches_bfs_oracle(spark):
    """Property: bounded_paths == a pure-python BFS capped at k, on a
    randomized DAG-ish graph (cycles allowed)."""
    import random

    from kgflow.operators import canon

    rng = random.Random(3)
    for trial in range(5):
        n = rng.randint(4, 14)
        edges = {
            (f"n{rng.randint(0, n)}", f"n{rng.randint(0, n)}")
            for _ in range(rng.randint(3, 2 * n))
        }
        k = rng.randint(1, 4)
        # python oracle: BFS per source over the edge set, depth-capped
        adj = {}
        for s, d in edges:
            adj.setdefault(s, set()).add(d)
        want = {}
        for src in {s for s, _ in edges}:
            frontier, seen_depth = {src}, {}
            for depth in range(1, k + 1):
                frontier = {d for s in frontier for d in adj.get(s, ())}
                for d in frontier:
                    seen_depth.setdefault(d, depth)
            for dst, depth in seen_depth.items():
                want[(src, dst)] = depth
        df = spark.createDataFrame(sorted(edges), "src string, dst string")
        got = {
            (r.src, r.dst): r.min_depth
            for r in canon.bounded_paths(df, max_hops=k).collect()
        }
        assert got == want, (sorted(edges), k)


def test_merge_props_resolve_order_insensitive(spark):
    """Property: merge_props result is identical regardless of batch
    arrival order (the determinism the reference's arrival-order concat
    lacks), and re-applying any batch is a no-op."""
    from kgflow.plans import materialize as mat

    rows = [
        ("k1", "b,a", 1.0, 1), ("k1", "c", 2.0, 2), ("k1", "a", 0.5, 3),
        ("k2", None, 9.0, 1), ("k2", "z", 8.0, 2),
    ]
    schema = "id string, names string, score double, seq int"

    def resolve(rs):
        df = spark.createDataFrame(rs, schema)
        out = mat.merge_props_resolve(df, ["id"], ["names"], "seq")
        return {tuple(r) for r in out.collect()}

    base = resolve(rows)
    assert base == {("k1", "a,b,c", 0.5, ), ("k2", "z", 8.0)} or True
    # exact expectations:
    got = {r[0]: (r[1], r[2]) for r in base}
    assert got["k1"] == ("a,b,c", 0.5)  # seq 3 wins for score
    assert got["k2"] == ("z", 8.0)
    import random

    rng = random.Random(1)
    for _ in range(3):
        shuffled = rows[:]
        rng.shuffle(shuffled)
        assert resolve(shuffled) == base
    assert resolve(rows + [("k1", "c", 2.0, 2)]) == base  # re-apply no-op

"""Canonicalization operators: connected components, pair canonical form,
duplicate-group resolution. Includes a hypothesis property test."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgflow.operators import canon


def test_connected_components_chain(spark):
    """A↔B, B↔C chains collapse to min-id canonical (FIXTURES.md §8)."""
    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y"), ("z", "z2"), ("z2", "z3")],
        "id_a string, id_b string",
    )
    got = {(r.id, r.canonical_id) for r in canon.connected_components(edges).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
        ("z", "z"), ("z2", "z"), ("z3", "z"),
    }


def test_connected_components_hub_skew(spark, monkeypatch):
    """One hub with high degree (skew test) still resolves in few rounds
    (distributed path forced — ``_DRIVER_EDGES`` = 0)."""
    rows = [("hub", f"leaf{i:03d}") for i in range(200)] + [
        (f"leaf{i:03d}", f"leaf2_{i:03d}") for i in range(50)
    ]
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
    cc = canon.connected_components(edges)
    n_components = cc.select("canonical_id").distinct().count()
    assert n_components == 1
    assert cc.count() == 251  # hub + 200 leaves + 50 leaf2 nodes


def test_connected_components_long_path(spark, monkeypatch):
    """Pointer doubling: a 64-node path converges within max_iter=25."""
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
    cc = canon.connected_components(edges, max_iter=10)
    assert cc.select("canonical_id").distinct().collect()[0][0] == "n000"
    assert cc.count() == 64


def test_connected_components_hybrid_finisher(spark, tmp_path, monkeypatch):
    """Mid-loop driver finisher: initial edges exceed ``_DRIVER_EDGES`` so
    the distributed path runs, but the contracted residual fits, so the
    union-find finisher completes the job — output must be identical to
    the pure fast path. Also exercises an explicit checkpoint_dir."""
    rows = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)] + [
        (f"m{i:02d}", f"m{i + 1:02d}") for i in range(9)
    ]
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 8)
    got = {
        (r.id, r.canonical_id)
        for r in canon.connected_components(edges, checkpoint_dir=str(tmp_path)).collect()
    }
    expected = {(f"n{i:03d}", "n000") for i in range(40)} | {
        (f"m{i:02d}", "m00") for i in range(10)
    }
    assert got == expected
    # the spill dir under checkpoint_dir must be cleaned up afterwards
    assert list(tmp_path.iterdir()) == []


def test_resolve_spill_dir_prefers_cluster_visible(spark):
    """ADVICE r3: executors commit task files on THEIR filesystems — the
    spill must land somewhere cluster-visible when a location is known."""
    p = canon._resolve_spill_dir(spark, "/tmp/ckpt_explicit/")
    assert p.startswith("/tmp/ckpt_explicit/kgflow_cc_")
    # no explicit dir + local master -> driver-local temp is legitimate
    p2 = canon._resolve_spill_dir(spark, None)
    assert "kgflow_cc_" in p2


def test_connected_components_long_ids_distributed(spark, monkeypatch):
    """Numeric id columns survive the distributed path AND the hybrid
    finisher (id type is preserved through parquet spills and the
    driver union-find's createDataFrame)."""
    rows = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 5)
    got = {(r.id, r.canonical_id) for r in canon.connected_components(edges).collect()}
    want = {(i, 0) for i in range(31)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want
    assert all(isinstance(i, int) for i, _ in got)


def test_update_components_equals_scratch(spark):
    """Incremental maintenance == from-scratch CC on the union, across
    the interesting cases: component merge via a bridge edge, brand-new
    component, new node with a smaller id taking over as root, and an
    untouched component staying untouched."""
    base = spark.createDataFrame(
        [("b", "c"), ("x", "y"), ("p", "q")], "id_a string, id_b string"
    )
    m0 = canon.connected_components(base)
    new = spark.createDataFrame(
        # bridge b..x components; brand-new (u,v); 'a' < 'b' takes over
        [("c", "x"), ("u", "v"), ("a", "b")],
        "id_a string, id_b string",
    )
    got = {
        (r.id, r.canonical_id)
        for r in canon.update_components(m0, new).collect()
    }
    want = {
        (r.id, r.canonical_id)
        for r in canon.connected_components(base.unionByName(new)).collect()
    }
    assert got == want
    assert ("p", "p") in got and ("q", "p") in got  # untouched component


def test_update_components_randomized(spark):
    """Randomized splits: any partition of an edge set into base+delta
    yields the same mapping as one-shot CC on the whole set."""
    import random

    rng = random.Random(31)
    for _ in range(5):
        edges = list(
            {
                (f"n{rng.randint(0, 20):02d}", f"n{rng.randint(0, 20):02d}")
                for _ in range(18)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        if len(edges) < 4:
            continue
        cut = rng.randint(1, len(edges) - 1)
        mk = lambda rows: spark.createDataFrame(rows, "id_a string, id_b string")
        m0 = canon.connected_components(mk(edges[:cut]))
        got = {
            tuple(r)
            for r in canon.update_components(m0, mk(edges[cut:])).collect()
        }
        want = {
            tuple(r) for r in canon.connected_components(mk(edges)).collect()
        }
        assert got == want, (edges, cut)


def test_cc_duplicated_edges_take_driver_path(spark, monkeypatch):
    """A small graph with heavy edge duplication (re-asserted same-as
    links) must still take the driver fast path: the gate counts
    DISTINCT edges when the raw count lands in the bounded band above
    the threshold. Proven via max_iter=0 — the distributed path would
    return an unmerged mapping, the driver union-find ignores it."""
    rows = [("a", "b"), ("b", "c"), ("x", "y")] * 40  # 120 raw, 3 distinct
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 10)
    got = {tuple(r) for r in canon.connected_components(edges, max_iter=0).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_cc_driver_path_is_one_job(spark):
    """Under the driver threshold one bounded Arrow collect is both the
    size gate and the union-find's input: exactly one Spark job on a
    pre-materialized 8-partition edge frame, and no RDD is persisted."""
    edges = (
        spark.createDataFrame(
            [(i, i + 1) for i in range(0, 40, 2)] + [(3, 4)], "id_a long, id_b long"
        )
        .repartition(8)
        .localCheckpoint(eager=True)
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    group = "test-cc-driver-path"
    sc.setJobGroup(group, "connected_components")
    try:
        mapping = canon.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
    got = dict(tuple(r) for r in mapping.collect())
    assert got[1] == 0 and got[3] == got[4] == got[5] == 2 and got[7] == 6 and len(got) == 40


def test_update_components_bulk_additions_gated(spark):
    """BULK additions: a new-edge batch far larger than the old mapping
    (a backfill replay / full ontology refresh). Scratch-equivalence
    must hold, and no join may be a forced broadcast: the delta is as
    unbounded as the batch, so with auto-broadcast off the plan has no
    broadcast join at all (AQE alone picks broadcasts, from bytes)."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("n000", "n001"), ("n500", "n501")], "id_a string, id_b string"
    )
    m0 = canon.connected_components(base).localCheckpoint(eager=True)
    # bulk batch: one 400-node chain touching n000's component — the
    # delta mapping (401 ids) dwarfs the old mapping (4 rows)
    bulk = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(400)],
        "id_a string, id_b string",
    )
    got = {
        tuple(r) for r in canon.update_components(m0, bulk).collect()
    }
    want = {
        tuple(r)
        for r in canon.connected_components(base.unionByName(bulk)).collect()
    }
    assert got == want
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = canon.update_components(m0, bulk)
        plan = unhinted._jdf.queryExecution().executedPlan().toString()
        assert {tuple(r) for r in unhinted.collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [("k1", 3, "x"), ("k1", 1, "y"), ("k2", 5, "z")],
        "key string, seq int, val string",
    )
    got = {tuple(r) for r in canon.dedup_keep_first(df, ["key"], [F.asc("seq")]).collect()}
    assert got == {("k1", 1, "y"), ("k2", 5, "z")}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
def test_cc_matches_union_find(spark, pairs):
    """Property: Spark CC == driver-side union-find on random graphs."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = set()
    rows = []
    for a, b in pairs:
        sa, sb = f"n{a:02d}", f"n{b:02d}"
        if sa == sb:
            continue
        rows.append((sa, sb))
        ids.update((sa, sb))
        ra, rb = find(sa), find(sb)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    if not rows:
        return
    expected = {}
    for x in ids:
        r = find(x)
        expected.setdefault(r, set()).add(x)
    exp_map = {x: min(members) for members in expected.values() for x in members}

    edges = spark.createDataFrame(pd.DataFrame(rows, columns=["id_a", "id_b"]))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(canon, "_DRIVER_EDGES", 0)  # the distributed path
        got = {(r.id, r.canonical_id) for r in canon.connected_components(edges).collect()}
    assert got == set(exp_map.items())


def test_retract_components_split_and_singleton(spark):
    """A retraction that splits a chain, one that isolates a node
    (singleton keeps its mapping row), a reversed-orientation listing,
    and an untouched component staying byte-identical."""
    edges = spark.createDataFrame(
        # chain a-b-c-d, pair (m,n) about to be fully isolated,
        # untouched component (p,q)
        [("a", "b"), ("b", "c"), ("c", "d"), ("m", "n"), ("p", "q")],
        "id_a string, id_b string",
    )
    m0 = canon.connected_components(edges)
    removed = spark.createDataFrame(
        # (c,b) reversed vs the edge table's (b,c); (n,m) reversed too
        [("c", "b"), ("n", "m")], "id_a string, id_b string"
    )
    got = {
        (r.id, r.canonical_id)
        for r in canon.retract_components(m0, edges, removed).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"),          # left half of the split chain
        ("c", "c"), ("d", "c"),          # right half
        ("m", "m"), ("n", "n"),          # both isolated, rows retained
        ("p", "p"), ("q", "p"),          # untouched
    }


def test_retract_components_randomized_vs_scratch(spark):
    """Randomized graphs: retracting any subset equals scratch CC on
    the surviving edges, plus self-rows for mapping members that lost
    every edge."""
    import random

    rng = random.Random(47)
    mk = lambda rows: spark.createDataFrame(rows, "id_a string, id_b string")
    for _ in range(4):
        edges = list(
            {
                (f"n{rng.randint(0, 18):02d}", f"n{rng.randint(0, 18):02d}")
                for _ in range(16)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        if len(edges) < 4:
            continue
        removed = rng.sample(edges, rng.randint(1, len(edges) - 1))
        surviving = [
            (a, b)
            for a, b in edges
            if tuple(sorted((a, b))) not in {tuple(sorted(r)) for r in removed}
        ]
        m0 = canon.connected_components(mk(edges))
        got = {
            tuple(r)
            for r in canon.retract_components(m0, mk(edges), mk(removed)).collect()
        }
        want = (
            {tuple(r) for r in canon.connected_components(mk(surviving)).collect()}
            if surviving
            else set()
        )
        covered = {i for i, _ in want}
        want |= {
            (i, i)
            for pair in edges
            for i in pair
            if i not in covered
        }
        assert got == want, (edges, removed)


def test_retract_then_add_equals_scratch(spark):
    """The documented composition: retract first, then
    update_components with the additions == one-shot CC on
    (edges - removed) + added — including re-adding a removed pair."""
    mk = lambda rows: spark.createDataFrame(rows, "id_a string, id_b string")
    edges = mk([("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    removed = mk([("b", "c"), ("x", "y")])
    added = mk([("d", "e"), ("x", "y")])  # (x,y) re-added after retraction
    m0 = canon.connected_components(edges)
    m1 = canon.retract_components(m0, edges, removed)
    got = {tuple(r) for r in canon.update_components(m1, added).collect()}
    want = {
        tuple(r)
        for r in canon.connected_components(
            mk([("a", "b"), ("c", "d"), ("d", "e"), ("x", "y")])
        ).collect()
    }
    assert got == want

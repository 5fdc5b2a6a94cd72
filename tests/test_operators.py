"""Unit tests for extraction, dedup, vector, sessionize operators."""

import contextlib
import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgflow.operators import dedup, extract, sessionize, vector
from kgflow.operators.extract import TokenAhoCorasick
from kgflow.reference_oracle import _scan
from reference import embedding_near_duplicates_exact, synth_pcm_payload


def test_matcher_longest_match_and_negatives():
    find = TokenAhoCorasick(["alpha kinase", "alpha kinase beta", "beta"]).find
    # longest-match wins, greedy, non-overlapping
    hits = find("see alpha kinase beta then alpha kinase and beta")
    assert hits == [("alpha kinase beta", 1, 4), ("alpha kinase", 5, 7), ("beta", 8, 9)]
    # near-miss: head word alone must not match
    assert find("alpha alone here") == []
    # case-insensitive
    assert [h[0] for h in find("ALPHA KINASE")] == ["alpha kinase"]


def test_extract_mentions_offsets(spark):
    """A mention's offsets are token positions, end exclusive, and the
    turn-level extractor built on the same matcher finds exactly it."""
    tr = spark.createDataFrame(
        [("c1", 0, "user", "x alpha kinase y", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert TokenAhoCorasick(["alpha kinase"]).find("x alpha kinase y") == [
        ("alpha kinase", 1, 3)
    ]
    rows = extract.extract_linked_terms_grouped(tr, {"alpha kinase": ("T1", "ns1")}).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.conv_id, r.turn_idx, r.term_ids, r.namespaces) == ("c1", 0, ["T1"], ["ns1"])


def test_hash_embedding_deterministic_and_normalized(spark):
    df = spark.createDataFrame([("hello world",), ("",)], "text string")
    out = extract.hash_embedding(df, dim=16).collect()
    v = out[0].embedding
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    assert out[1].embedding == [0.0] * 16
    out2 = extract.hash_embedding(df, dim=16).collect()
    assert out[0].embedding == out2[0].embedding


def test_exact_duplicates_groups(spark):
    docs = spark.createDataFrame(
        [(1, "Same  Text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    got = {(r.canonical_id, r.n_dups) for r in dedup.exact_duplicates(docs).collect()}
    # whitespace-normalized + lower-cased → 1 and 2 collapse
    assert got == {(1, 2), (3, 1)}


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words in this one nothing shared at all here"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    ver = dedup.minhash_verified_pairs(docs).collect()
    assert {(r.id_a, r.id_b) for r in ver} == pairs
    row = next(r for r in ver if (r.id_a, r.id_b) == (1, 2))
    assert row.inter_size / row.union_size > 0.5


def test_simhash_similar_docs_close(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


def test_brute_force_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = vector.brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in got] == [1, 2, 3]
    assert got[0].score > 0.99


def test_lsh_topk_subset_of_brute(spark, lexicon_pdf):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    lsh = vector.lsh_bucket_topk(emb, q, dim=16, k=5, n_planes=2)
    brute = vector.brute_force_topk(emb, q, k=80)
    bscore = {
        (r.query_id, r.neighbor_id): r.score for r in brute.collect()
    }
    for r in lsh.collect():
        # every LSH hit must carry the exact brute-force score
        assert bscore[(r.query_id, r.neighbor_id)] == r.score


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),  # same session (10 min)
        (1, "2024-01-01 01:00:00"),  # new session (50 min gap)
        (2, "2024-01-01 00:00:00"),
    ]
    events = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in
           sessionize.session_stats(events).collect()}
    assert got == {1: (2, 3), 2: (1, 1)}


def test_numpy_topk_matches_jvm_topk(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(32).astype(np.float32).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    jvm = {(r.query_id, r.rank): (r.neighbor_id, r.score)
           for r in vector.brute_force_topk(emb, q, k=5).collect()}
    npy = {(r.query_id, r.rank): (r.neighbor_id, r.score)
           for r in vector.brute_force_topk_np(emb, q, k=5).collect()}
    assert jvm == npy


def test_ivf_topk_recall(spark):
    """IVF with nprobe=4/k=8 clusters on label-clustered vectors should
    recover most of the exact top-5 (and every hit carries the exact
    brute-force score)."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for i in range(400):
        label = i % 8
        center = np.zeros(16)
        center[label * 2] = 3.0
        rows.append((i, (center + rng.randn(16) * 0.3).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")

    cents = vector.kmeans_centroids(emb, k=8, iters=4)
    assert len(cents) == 8 and len(cents[0]) == 16

    ivf = vector.ivf_topk(emb, q, cents, k=5, nprobe=4)
    brute = vector.brute_force_topk(emb, q, k=5)
    bset = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    iset = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bset & iset) / len(bset)
    assert recall >= 0.8, recall
    bscore = {(r.query_id, r.neighbor_id): r.score for r in brute.collect()}
    for r in ivf.collect():
        if (r.query_id, r.neighbor_id) in bscore:
            assert bscore[(r.query_id, r.neighbor_id)] == r.score


def test_embedding_neardup_bucketed_plan_and_recall(spark):
    """The production near-dup path must be an equi join on the LSH
    bucket key — no BroadcastNestedLoopJoin / cartesian over the corpus
    — and must find all identical-vector pairs (same bucket by
    construction), matching the exact verifier on them."""
    import random

    rng = random.Random(5)
    rows = []
    # 3 clusters of 4 identical vectors + 20 random vectors
    for c in range(3):
        v = [rng.uniform(-1, 1) for _ in range(16)]
        for j in range(4):
            rows.append((c * 10 + j, v))
    for i in range(20):
        rows.append((100 + i, [rng.uniform(-1, 1) for _ in range(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    approx = dedup.embedding_near_duplicates(emb, threshold=0.999, dim=16, n_planes=4)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    exact = embedding_near_duplicates_exact(emb, threshold=0.999)
    got = {(r.id_a, r.id_b) for r in approx.collect()}
    want = {(r.id_a, r.id_b) for r in exact.collect()}
    assert want  # the identical-vector pairs exist
    assert got == want  # identical vectors share a bucket -> full recall here


def test_minhash_hot_bucket_cap_bounds_boilerplate(spark):
    """1k identical docs (boilerplate) without a cap produce ~500k
    candidate pairs; with max_bucket the hot buckets are dropped and the
    pair output is bounded while genuine near-dup pairs survive."""
    boiler = "subscribe to our newsletter for updates and offers every single day"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    rows = [(i, boiler) for i in range(1000)] + [(2001, base), (2002, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.minhash_lsh_pairs(docs, max_bucket=10).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert (2001, 2002) in pairs  # genuine near-dups survive
    # every boilerplate bucket (1000 docs) is dropped -> bounded output
    assert len(pairs) <= 10 * 10 * 4
    assert not any(a < 1000 and b < 1000 for a, b in pairs)

    # the cap is ON by default (500): the 1000-doc boilerplate bucket is
    # dropped without passing max_bucket explicitly
    default_pairs = {
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert (2001, 2002) in default_pairs
    assert not any(a < 1000 and b < 1000 for a, b in default_pairs)


def _self_join_pairs(bands, bucket_cols, max_bucket, sig_col=None, max_hamming=0):
    """The band self-join formulation the bucket kernel replaced, as a
    reference: buckets of more than ``max_bucket`` rows anti-joined
    away, then every bucket joined with itself on its key."""
    if max_bucket is not None:
        hot = (
            bands.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .drop("_bn")
        )
        bands = bands.join(F.broadcast(hot), bucket_cols, "left_anti")
    l, r = bands.alias("l"), bands.alias("r")
    cols = [F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")]
    if sig_col is not None:
        xor = F.col(f"l.{sig_col}").bitwiseXOR(F.col(f"r.{sig_col}"))
        cols.append(F.bit_count(xor).cast("int").alias("hamming"))
    out = l.join(r, bucket_cols).filter(F.col("l.doc_id") < F.col("r.doc_id")).select(*cols)
    if sig_col is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return {tuple(x) for x in out.collect()}


def _with_arrow_batches(spark, sizes, check):
    """Run ``check()`` once per Arrow batch size, restoring the
    session's setting afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        for size in sizes:
            spark.conf.set(key, str(size))
            check()
    finally:
        spark.conf.set(key, prev)


def test_minhash_bucket_kernel_equals_self_join(spark):
    """``minhash_lsh_pairs`` pairs inside each bucket exactly as the
    band self-join did: a bucket of exactly ``max_bucket`` rows pairs,
    one of ``max_bucket + 1`` does not — null-id rows count toward the
    size and never pair — duplicate ids never pair with themselves, and
    buckets straddling Arrow batches of 3 rows are carried whole."""
    cap = 4
    same = [
        "alpha beta gamma delta epsilon zeta",  # 4 docs: exactly the cap
        "one two three four five six seven",  # 5 docs: cap + 1
        "red green blue cyan magenta yellow",  # 3 docs + a null id: the cap
        "north south east west up down left",  # 4 docs + a null id: cap + 1
    ]
    rows = (
        [(1 + i, same[0]) for i in range(4)]
        + [(11 + i, same[1]) for i in range(5)]
        + [(21 + i, same[2]) for i in range(3)] + [(None, same[2])]
        + [(31 + i, same[3]) for i in range(4)] + [(None, same[3])]
        # duplicate id 41 (two texts) near id 42; too short to shingle
        + [(41, "the quick brown fox jumps over the lazy dog")]
        + [(41, "the quick brown fox jumps over the lazy cat")]
        + [(42, "the quick brown fox jumps over the lazy dog")]
        + [(43, "too short")]
        + [(50 + i, " ".join(f"w{(i * 5 + j) % 13}" for j in range(9))) for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = dedup._minhash_bands(docs, "doc_id", "text", 8, 2, 3)

    def check():
        for mb in (cap, None):
            got = {tuple(r) for r in dedup.minhash_lsh_pairs(docs, max_bucket=mb).collect()}
            assert got == _self_join_pairs(bands, ["band_id", "band_key"], mb)
            assert {(1, 2), (21, 22), (41, 42)} <= got
            assert ((11, 12) in got) == ((31, 32) in got) == (mb is None)
            assert not any(a == b for a, b in got)

    _with_arrow_batches(spark, [spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"), 3], check)


def _word_shingle_counts(docs, pairs):
    """{(id_a, id_b): {(inter_size, union_size), ...}} by the JVM rule:
    ``size(array_intersect)`` and ``size(array_union)`` of the two docs'
    ``tx.word_shingles`` arrays, over every pair of rows with those ids."""
    from kgflow.functions import text as tx

    sh = docs.select(F.col("doc_id").alias("_id"), tx.word_shingles("text", 3).alias("_sh"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    ref: dict = {}
    for r in (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")),
            F.size(F.array_union("sh_a", "sh_b")),
        )
        .collect()
    ):
        ref.setdefault((r[0], r[1]), set()).add((r[2], r[3]))
    return ref


def _argmin_shingle_text():
    """A 12-token text whose sig_0 and sig_1 come from one shingle
    while sig_2 comes from another, and that shingle's three words:
    a doc of just those words shares the text's band 0 and no other."""
    dig = dedup._minhash_signer(8, 3)
    for seed in range(100):
        toks = [f"s{seed}w{j}" for j in range(12)]
        shingles = [" ".join(toks[j : j + 3]) for j in range(10)]
        sigs = {sh: dig(sh) for sh in shingles}
        arg = [min(shingles, key=lambda sh: sigs[sh][i]) for i in range(8)]
        if arg[0] == arg[1] and arg[2] != arg[0]:
            return " ".join(toks), arg[0]
    raise AssertionError("no text found")


def test_minhash_verified_pairs_match_jvm_shingle_counts(spark):
    """``minhash_verified_pairs`` emits exactly the ``minhash_lsh_pairs``
    candidates, each with the JVM rule's counts over
    ``tx.word_shingles``: tabs, no-break spaces, case and repeated
    shingles; docs under 3 tokens and null text; duplicate and null
    ids; buckets straddling Arrow batches of 3 rows; and a pair whose
    band-0 bucket is over ``max_bucket`` while another band still
    pairs it."""
    text, shingle = _argmin_shingle_text()
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = (
        [(1, base), (2, base.replace("today", "tomorrow"))]
        + [(3, "\t" + base.replace(" ", "\t")), (4, "\t" + base + "\t")]
        + [(5, base.replace(" the ", "\xa0the ")), (6, base.upper())]
        + [(7, base.title()), (8, "a b c a b c a b c a b c"), (9, "a b c a b c a b")]
        + [(10, "too short"), (11, ""), (12, None), (None, base), (None, "a b c a b c")]
        # duplicate ids: 13 once with the base text, once near it
        + [(13, base), (13, base + " extra words"), (14, base + " extra words")]
        # 15, 16 share every band; 17-19 share only band 0 with them
        + [(15, text), (16, text)]
        + [(17 + i, shingle) for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 4
    bands = dedup._minhash_bands(docs, "doc_id", "text", 8, 2, 3).collect()
    band0 = {r.band_key for r in bands if r.doc_id == 15 and r.band_id == 0}
    assert sum(r.band_id == 0 and r.band_key in band0 for r in bands) > cap

    def check():
        for mb in (cap, None):
            got = dedup.minhash_verified_pairs(docs, max_bucket=mb).collect()
            pairs = {(r.id_a, r.id_b) for r in got}
            assert len(pairs) == len(got)
            assert pairs == {
                tuple(r) for r in dedup.minhash_lsh_pairs(docs, max_bucket=mb).collect()
            }
            assert {(15, 16), (8, 9)} <= pairs
            # the base text's buckets hold more than ``cap`` docs
            assert ({(1, 2), (3, 4), (1, 6), (13, 14)} <= pairs) == (mb is None)
            ref = _word_shingle_counts(docs, spark.createDataFrame(
                sorted(pairs), "id_a long, id_b long"
            ))
            for r in got:
                counts = ref[(r.id_a, r.id_b)]
                assert (r.inter_size, r.union_size) in counts, r
                if 13 not in (r.id_a, r.id_b):
                    assert len(counts) == 1
            by_pair = {(r.id_a, r.id_b): (r.inter_size, r.union_size) for r in got}
            assert by_pair[(15, 16)] == (10, 10)
            assert by_pair[(8, 9)] == (3, 3)

    _with_arrow_batches(spark, [spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"), 3], check)


def test_signature_bucket_kernel_equals_self_join(spark):
    """``signature_near_pairs`` — the kernel with the hamming verify
    inside the bucket — equals the band self-join: cap boundary at
    ``max_bucket`` and ``max_bucket + 1`` rows (null ids counted),
    duplicate and null ids, null signatures, no cap, and buckets
    straddling Arrow batches of 3 rows."""
    import random

    rng = random.Random(11)

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    cap = 3
    x, y, z = 0x0F0F0F0F0F0F0F0F, 0x00FF00FF00FF00FF, 0x1234567812345678
    rows = (
        [(1, 0), (2, 0), (3, 0)]  # every band: exactly the cap
        + [(11 + i, -1) for i in range(4)]  # every band: cap + 1
        + [(None, x), (21, x), (22, x ^ 1)]  # null id counted: the cap
        + [(None, y), (31, y), (32, y), (33, y)]  # null id counted: cap + 1
        + [(41, z), (41, z), (42, z ^ 2), (43, None)]
    )
    for i in range(30):  # random signatures, each with a 1..5-bit variant
        v = rng.getrandbits(64)
        rows.append((100 + 2 * i, signed(v)))
        for b in rng.sample(range(64), 1 + i % 5):
            v ^= 1 << b
        rows.append((101 + 2 * i, signed(v)))
    sigs = spark.createDataFrame(rows, "doc_id long, sig long")
    bands = dedup.signature_bands(sigs, "doc_id", "sig", 3, 64)

    def check():
        for mb in (cap, None):
            got = {
                tuple(r)
                for r in dedup.signature_near_pairs(sigs, "doc_id", "sig", 3, 64, mb).collect()
            }
            assert got == _self_join_pairs(bands, ["band_id", "band_val"], mb, "sig", 3)
            assert {(1, 2, 0), (21, 22, 1), (41, 42, 1), (100, 101, 1)} <= got
            assert ((11, 12, 0) in got) == ((31, 32, 0) in got) == (mb is None)

    _with_arrow_batches(spark, [spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"), 3], check)


def test_minhash_pairs_plan_is_bucket_local(spark, tmp_path):
    """The MinHash tier pairs inside buckets: its plan has no broadcast
    exchange (no hot-key anti-join, no self-join) and scans no
    checkpointed frame."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i % 3} common words for every doc here {i % 2}") for i in range(30)],
        "doc_id long, text string",
    ).write.parquet(path)
    pairs = dedup.minhash_lsh_pairs(spark.read.parquet(path), max_bucket=10)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "ExistingRDD" not in plan


def test_dedup_clusters_small_graph_caches_nothing(spark):
    """A pair graph under the CC driver threshold comes back as a driver
    dict and rewrites the corpus ids in one narrow stage: no RDD is
    persisted and no plan holds an ``InMemoryRelation``."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(10, base), (11, base + " extra1"), (50, "something else entirely said here now")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = dedup.dedup_clusters(docs)
    got = {tuple(r) for r in out.collect()}
    assert got == {(10, 10, True), (11, 10, False), (50, 50, True)}
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before
    assert "InMemoryRelation" not in out._jdf.queryExecution().executedPlan().toString()


def test_dedup_clusters_job_count_is_fixed(spark, tmp_path):
    """``dedup_clusters`` build + collect runs one fixed number of jobs
    and tasks, in each of two fresh sessions at the default
    ``autoBroadcastJoinThreshold``: the verified pairs come out of the
    bucket kernel, so no join leaves AQE a strategy to pick by timing.
    Their plan has no join and no broadcast, and one round-robin
    exchange (the docs' spread)."""
    from perfbench.trace import StatusReader

    path = str(tmp_path / "docs")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(i, f"{base} w{i % 7}" if i % 3 else f"doc {i} says something else") for i in range(60)],
        "doc_id long, text string",
    ).repartition(4).write.parquet(path)
    counts = []
    for _ in range(2):
        s = spark.newSession()
        assert s.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
        status = StatusReader(s)
        docs = s.read.schema("doc_id long, text string").parquet(path)
        dedup.dedup_clusters(docs).collect()
        jobs, stages = status.read()
        counts.append((jobs, sum(st.numCompleteTasks() for st in stages)))
        pairs = dedup.minhash_verified_pairs(docs)
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
        assert "Join" not in plan and "BroadcastExchange" not in plan
        assert plan.count("RoundRobinPartitioning") == 1, plan
    # jobs (tasks): the spread's round-robin map (4, one per file), the
    # MinHash pass into the bucket exchange (8), the kernel into the
    # pair dedup exchange (1), the components' bounded collect (1) and
    # the narrow rewrite of the corpus ids (4)
    assert counts == [(5, 18)] * 2


def test_dedup_clusters_distributed_mapping_joins(spark, monkeypatch):
    """Above the CC driver threshold the mapping is a distributed frame
    and the assignment is a join whose strategy AQE picks from bytes
    (a broadcast at this size): it assigns the same clusters as the
    driver-map path."""
    from kgflow.operators import canon

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " extra1"),
            (12, base + " extra1 extra2 x y"),
            (50, "completely different text about something else entirely here"),
        ],
        "doc_id long, text string",
    )
    want = {tuple(r) for r in dedup.dedup_clusters(docs).collect()}
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
    out = dedup.dedup_clusters(docs)
    assert {tuple(r) for r in out.collect()} == want
    assert want == {(10, 10, True), (11, 10, False), (12, 10, False), (50, 50, True)}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_tokens_blank_text_matches_oracle_sql(spark):
    """``tokens`` splits blank text exactly as the frozen oracle SQL
    does (DuckDB ``regexp_split_to_array(lower(trim(t)), '\\s+')``):
    null → null, "" and " " → one empty token, a tab → two."""
    import duckdb

    from kgflow.functions import text as tx

    texts = [None, "", " ", "\t"]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = [
        (r.toks, r.n)
        for r in df.orderBy("i")
        .select(tx.tokens("t").alias("toks"), F.size(tx.tokens("t")).alias("n"))
        .collect()
    ]
    with duckdb.connect() as con:
        sql = (
            "SELECT regexp_split_to_array(lower(trim(t)), '\\s+') AS toks, "
            "len(regexp_split_to_array(lower(trim(t)), '\\s+')) AS n "
            "FROM (SELECT CAST(? AS VARCHAR) AS t)"
        )
        want = [con.execute(sql, [t]).fetchone() for t in texts]
    assert got == want
    assert [n for _, n in got] == [None, 1, 1, 2]


def test_pair_blocks_equal_triu_indices():
    """Row blocks of pairs concatenate to ``np.triu_indices(n, 1)`` and
    each block holds at most ``max_pairs`` pairs or one row."""
    import numpy as np

    for n in [0, 1, 2, 3, 7, 40]:
        for max_pairs in [1, 5, 16, 10_000]:
            blocks = list(dedup._pair_blocks(n, max_pairs))
            assert all(len(i) <= max(max_pairs, n - 1) for i, _ in blocks)
            i = np.concatenate([b[0] for b in blocks] or [np.zeros(0, int)])
            j = np.concatenate([b[1] for b in blocks] or [np.zeros(0, int)])
            ti, tj = np.triu_indices(n, 1)
            assert np.array_equal(i, ti) and np.array_equal(j, tj)


def test_embedding_neardup_bucket_over_one_block(spark):
    """A bucket whose pairs span several row blocks (~400 vectors, about
    80k pairs against 65,536 per block) scores exactly the pairs, at
    exactly the cosines, of the all-pairs JVM verifier."""
    import random

    rng = random.Random(2)
    base = [rng.uniform(0.5, 1.0) for _ in range(8)]
    rows = [(i, [b + rng.uniform(-0.3, 0.3) for b in base]) for i in range(420)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = dedup.embedding_near_duplicates(emb, threshold=0.99, dim=8, n_planes=1)
    # one bucket (every vector on one side of the plane): its pairs
    # span two blocks, and bucketing loses no pair of the exact verifier
    buckets = emb.select(
        vector.sign_bucket("embedding", vector.hyperplanes(8, 1, 13)).alias("b")
    ).distinct().count()
    assert buckets == 1 and 420 * 419 // 2 > 1 << 16
    want = {tuple(r) for r in embedding_near_duplicates_exact(emb, threshold=0.99).collect()}
    assert {tuple(r) for r in got.collect()} == want and want


def test_embedding_neardup_dim_mismatch_fails_loudly(spark):
    """ADVICE round-2: a vector whose size differs from the derived dim
    must raise, not silently collapse every row into one LSH bucket."""
    import pytest

    ok = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # dim derived from the data: works without an explicit dim
    got = dedup.embedding_near_duplicates(ok, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}

    bad = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector size != dim"):
        dedup.embedding_near_duplicates(bad, threshold=0.9).collect()


def test_numpy_topk_string_ids(spark):
    """brute_force_topk_np must keep contract equivalence with the JVM
    variant for non-long id columns (e.g. doc-URI strings)."""
    import random

    rng = random.Random(11)
    rows = [(f"doc:{i:03d}", [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    q = emb.filter(F.col("vec_id") < "doc:003").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        tuple(r)
        for r in vector.brute_force_topk_np(emb, q, k=4).collect()
    }
    want = {tuple(r) for r in vector.brute_force_topk(emb, q, k=4).collect()}
    assert got == want


def test_aho_corasick_equivalence_randomized():
    """TokenAhoCorasick.find must reproduce the oracle's greedy scan
    (reference_oracle._scan: leftmost-longest, non-overlapping) exactly
    across adversarial prefix/suffix/overlap pattern sets."""
    import random

    rng = random.Random(99)
    alphabet = ["a", "b", "c", "ab", "bc"]
    for trial in range(60):
        n_pat = rng.randint(1, 12)
        pats = {
            " ".join(rng.choices(alphabet, k=rng.randint(1, 4))) for _ in range(n_pat)
        }
        surfaces = sorted(pats)
        surf_map = {s: (s, "ns") for s in surfaces}
        max_len = max(len(s.split()) for s in surfaces)
        ac = TokenAhoCorasick(surfaces)
        for _ in range(20):
            text = " ".join(rng.choices(alphabet, k=rng.randint(0, 25)))
            hits = ac.find(text)
            want = [s for s, _ in _scan(text, surf_map, max_len)]
            assert [h[0] for h in hits] == want, (surfaces, text)
            toks = text.split()
            assert all(" ".join(toks[s:e]) == h for h, s, e in hits)


def test_simhash_near_pairs_equals_bruteforce(spark):
    """The banded candidate generation must find EVERY pair within the
    hamming bound (pigeonhole completeness), matching an all-pairs
    bit_count check exactly."""
    rows = [
        (i, " ".join(f"w{(i * 7 + j * (1 + i % 3)) % 23}" for j in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_pairs(docs, max_hamming=2).collect()
    }
    sigs = {r.doc_id: r.simhash for r in dedup.simhash16(docs).collect()}
    ids = sorted(sigs)
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 2
    }
    assert got == want and want  # non-vacuous: some pairs exist


def test_stratified_sample_exact_n(spark):
    from kgflow.operators import sample

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a")
        .when(F.col("id") % 3 == 1, "b")
        .otherwise("c")
        .alias("source"),
    )
    out5 = sample.stratified_sample_exact_n(docs, 5)
    counts = {
        r.source: r.n
        for r in out5.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 5, "b": 5, "c": 5}
    # n larger than a stratum returns the whole stratum, no padding
    tiny = docs.filter("doc_id < 4")  # sources a:2, b:1, c:1
    assert sample.stratified_sample_exact_n(tiny, 5).count() == 4
    # superset chain: the 5-sample is inside the 10-sample
    s5 = {r.doc_id for r in out5.collect()}
    s10 = {r.doc_id for r in sample.stratified_sample_exact_n(docs, 10).collect()}
    assert s5 <= s10


def test_redact_pii_patterns_and_order(spark):
    """Each PII class scrubs to its typed placeholder; application
    order matters: an email inside a URL is swallowed by <URL>, and a
    dotted quad is <IP>, never half-eaten as a phone number."""
    from kgflow.functions import text as tx

    cases = {
        "mail me at bob.smith+x@sub.example.co.uk today":
            "mail me at <EMAIL> today",
        "docs at https://ex.com/a?user=a@b.com ok": "docs at <URL> ok",
        "host 192.168.0.1 up": "host <IP> up",
        "call +1 555-010-9999 now": "call <PHONE> now",
        "call 5550109999 now": "call <PHONE> now",
        "plain text stays": "plain text stays",
        "ip 10.0.0.1 then (555)010-9999": "ip <IP> then <PHONE>",
        # precision: dates / times / versions / short ids are NOT PII
        "released 2026-08-17 at 12:30": "released 2026-08-17 at 12:30",
        "version 1.2.3 and 1.22.333.4 ok": "version 1.2.3 and 1.22.333.4 ok",
        "code 12345678 ok": "code 12345678 ok",
        "id 123456789012345678 ok": "id 123456789012345678 ok",
        # a 9-15 digit bare run is indistinguishable from a phone —
        # redacting is the privacy-safe side
        "order 123456789 shipped": "order <PHONE> shipped",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "i long, t string"
    )
    got = {r.i: r.red for r in df.select("i", tx.redact_pii("t").alias("red")).collect()}
    want = dict(enumerate(cases.values()))
    assert got == want


def test_grouped_explode_equals_linked_mentions(spark):
    """The grouped fused extractor's correctness claim: exploding
    arrays_zip(term_ids, namespaces) reproduces the oracle's scan
    (``reference_oracle._scan``) plus a term → canonical lookup exactly
    (multiplicity preserved)."""
    tr = spark.createDataFrame(
        [
            ("c1", 0, "user", "alpha kinase then beta then alpha kinase", None, None),
            ("c1", 1, "asst", "beta beta gamma", None, None),
            ("c2", 0, "user", "", None, None),
            ("c2", 1, "user", "nothing relevant here", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    smap = {
        "alpha kinase": ("T1", "ns1"),
        "beta": ("T2", "ns2"),
        "gamma": ("T3_ALT", "ns1"),
    }
    cmap = {"T3_ALT": "T3"}

    flat = sorted(
        (r.conv_id, r.turn_idx, cmap.get(tid, tid), ns)
        for r in tr.collect()
        for tid, ns in _scan(r.text, smap, 2)
    )
    grouped = extract.extract_linked_terms_grouped(tr, smap, cmap)
    exploded = sorted(
        map(
            tuple,
            grouped.select(
                "conv_id",
                "turn_idx",
                F.explode(F.arrays_zip("term_ids", "namespaces")).alias("_m"),
            )
            .select(
                "conv_id",
                "turn_idx",
                F.col("_m.term_ids").alias("term_id"),
                F.col("_m.namespaces").alias("namespace"),
            )
            .collect(),
        )
    )
    assert flat == exploded
    # multiplicity really is preserved (beta twice in c1 turn 1)
    assert flat.count(("c1", 1, "T2", "ns2")) == 2


def test_extractors_on_empty_and_null_text(spark):
    """Every batch of an all-empty/null-text frame emits zero rows: the
    per-turn extractor must still convert those empty batches to Arrow
    and return 0 rows under its declared schema."""
    tr = spark.createDataFrame(
        [("c1", i, "user", t, None, None) for i, t in enumerate(["", None, "", None])],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).repartition(2)
    grouped = extract.extract_linked_terms_grouped(tr, {"alpha kinase": ("T1", "ns1")})
    assert grouped.collect() == []
    assert grouped.schema == extract._GROUPED_OUT


def test_hash_sample_deterministic_rate_and_salt(spark):
    from kgflow.operators import sample

    docs = spark.range(8000).select(F.col("id").alias("doc_id"))
    s1 = {r.doc_id for r in sample.hash_sample(docs, 0.25).collect()}
    s2 = {r.doc_id for r in sample.hash_sample(docs, 0.25).collect()}
    assert s1 == s2  # pure function of (salt, id): reproducible
    assert 0.2 < len(s1) / 8000 < 0.3  # uniform near the target rate
    s3 = {r.doc_id for r in sample.hash_sample(docs, 0.25, salt="other").collect()}
    assert s3 != s1  # salt rotates the sample
    # nested property: a higher-rate sample contains the lower-rate one
    s4 = {r.doc_id for r in sample.hash_sample(docs, 0.5).collect()}
    assert s1 <= s4


def test_stratified_hash_sample_rates(spark):
    from kgflow.operators import sample

    docs = spark.range(6000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    out = sample.stratified_hash_sample(docs, {"a": 0.1, "b": 0.9})
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert 0.05 < counts["a"] / 3000 < 0.15
    assert 0.85 < counts["b"] / 3000 < 0.95


def test_pack_sequences_budget_semantics(spark):
    from kgflow.operators import sample

    docs = spark.createDataFrame(
        [
            # source s: tokens 3, 4, 5 — budget 6 → cum 0,3,7
            (1, "a b c", "s"),
            (2, "d e f g", "s"),
            (3, "h i j k l", "s"),
            (4, "one two", "t"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.bin_id, r.bin_offset, r.n_tokens)
        for r in sample.pack_sequences(docs, budget=6).collect()
    }
    assert got == {
        1: (0, 0, 3),
        2: (0, 3, 4),  # starts inside bin 0 (offset 3), spans into bin 1
        3: (1, 1, 5),  # cum=7 → bin 1, offset 1
        4: (0, 0, 2),  # independent stream
    }


def test_dedup_clusters_transitive(spark):
    """A≈B and B≈C cluster A,B,C together even though A vs C alone are
    below threshold (near-duplication is not transitive); representative
    is the min id; unrelated docs are their own singleton reps."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base + " extra1"),            # ≈ 10
            (12, base + " extra1 extra2 x y"),  # ≈ 11, farther from 10
            (50, "completely different text about something else entirely here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cluster_rep, r.is_rep)
        for r in dedup.dedup_clusters(docs, min_jaccard_pct=50).collect()
    }
    assert got[10] == (10, True)
    assert got[11] == (10, False)
    assert got[12] == (10, False)
    assert got[50] == (50, True)


def test_aho_match_set_all_occurrences():
    """match_set (the contamination-probe contract) detects every pattern
    independently — nested and overlapping patterns that the greedy
    segmentation would swallow must still be reported — and equals brute
    token-subsequence containment on randomized inputs."""
    import random

    from kgflow.operators.extract import TokenAhoCorasick

    ac = TokenAhoCorasick(["a b c", "b c", "c", "c d", "x"])
    assert ac.match_set("a b c d") == {"a b c", "b c", "c", "c d"}
    assert ac.match_set("") == set()
    assert ac.match_set("q r s") == set()

    def brute(text, pats):
        toks = text.lower().split()
        hits = set()
        for p in pats:
            pt = p.split()
            L = len(pt)
            if any(toks[i : i + L] == pt for i in range(len(toks) - L + 1)):
                hits.add(p)
        return hits

    rng = random.Random(7)
    alphabet = ["a", "b", "c", "ab", "bc"]
    for _ in range(40):
        pats = sorted(
            {" ".join(rng.choices(alphabet, k=rng.randint(1, 4))) for _ in range(10)}
        )
        ac = TokenAhoCorasick(pats)
        for _ in range(20):
            text = " ".join(rng.choices(alphabet, k=rng.randint(0, 25)))
            assert ac.match_set(text) == brute(text, pats), (pats, text)


def test_contamination_probe_ac_matches_literal_token_form(spark, tmp_path):
    """The AC probe query equals the one-scan token-boundary form (the
    padded-contains expression the oracle uses) on a corpus with nested
    probes and partial-token near-misses. The corpus file has three of
    the declared ``documents`` columns; ``_t`` reads the other two
    (``lang``, ``n_chars``) as NULL, and the query never touches them."""
    import __spark_entry__ as entry
    from kgflow.functions import text as tx

    docs = spark.createDataFrame(
        [
            (0, "intro to spark sql engines", "a"),
            (1, "pyspark sql near-miss: substring yes, token boundary no", "a"),
            (2, "VECTOR  INDEX and vector index merge upsert", "b"),
            (3, "the quick brown fox jumps", "b"),
            (4, "", "b"),
        ],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.probe, r.n_docs)
        for r in entry.q_contamination_probe_ac(spark, str(tmp_path)).collect()
    }
    padded = F.concat(F.lit(" "), tx.normalized_text("text"), F.lit(" "))
    want = set()
    for p in entry._PROBES:
        n = docs.filter(padded.contains(f" {p} ")).count()
        want.add((p, n))
    assert got == want
    # sanity: the nested/overlap cases actually exercised the contract
    d = dict(got)
    assert d["spark sql"] == 1  # doc 0 only — "pyspark sql" is a partial token
    assert d["vector index"] == 1 and d["merge upsert"] == 1


def test_simhash64_near_pairs_equals_bruteforce(spark):
    """64-bit tier (the corpus-scale width): banded candidates at
    hamming <= 3 match an all-pairs bit_count check exactly, and the
    signature matches an independent python md5 reference (two bits per
    nibble, signed-long packing with bit 64 at weight -2^63)."""
    import hashlib

    rows = [
        (i, " ".join(f"w{(i * 7 + j * (1 + i % 3)) % 23}" for j in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def ref_sig(text):
        toks = list(dict.fromkeys(text.lower().strip().split()))
        sums = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for i in range(1, 65):
                v = int(h[(i + 1) // 2 - 1], 16)
                bit = (v >= 8) if i % 2 == 1 else ((v % 8) >= 4)
                sums[i - 1] += 1 if bit else -1
        sig = 0
        for i in range(1, 65):
            if sums[i - 1] > 0:
                sig += (1 << (i - 1)) if i < 64 else -(1 << 63)
        return sig

    want_sig = {i: ref_sig(t) for i, t in rows}
    got_sig = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert got_sig == want_sig

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_pairs(docs, max_hamming=3, bits=64).collect()
    }
    ids = sorted(want_sig)
    mask = (1 << 64) - 1
    want = {
        (a, b, bin((want_sig[a] ^ want_sig[b]) & mask).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((want_sig[a] ^ want_sig[b]) & mask).count("1") <= 3
    }
    assert got == want and want  # non-vacuous


def test_cap_stats_match_manual(spark):
    """The hot-bucket drop reports must agree with a manual recount of
    the same banding, and n_docs_fully_excluded must equal the number
    of docs the capped PAIRING actually silences (zero surviving
    bands). Null doc ids count as one doc, as ``GROUP BY`` counts them,
    and 10,000 docs of one text fill one 10,000-row bucket per band."""
    from collections import Counter

    rows = [
        (i, " ".join(f"w{(i * 7 + j * (1 + i % 3)) % 23}" for j in range(12)))
        for i in range(40)
    ]
    rows += [(None, rows[0][1]), (None, "w1 w2 w3 w4 w5 w6 w7")]
    rows += [(1000 + i, "one boilerplate text shared by every row") for i in range(10_000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 3
    bands = dedup._simhash_bands(docs, "doc_id", "text", 2, 16).collect()
    cnt = Counter((r.band_id, r.band_val) for r in bands)
    hot = {k for k, n in cnt.items() if n > cap}
    per_doc_all = Counter(r.doc_id for r in bands)
    per_doc_hot = Counter(
        r.doc_id for r in bands if (r.band_id, r.band_val) in hot
    )
    want = (
        len(cnt),
        len(hot),
        sum(cnt[k] for k in hot),
        sum(1 for d, n in per_doc_all.items() if per_doc_hot.get(d, 0) == n),
    )
    r = dedup.simhash_cap_stats(docs, max_bucket=cap).first()
    got = (r.n_buckets, r.n_capped_buckets, r.n_rows_dropped, r.n_docs_fully_excluded)
    assert got == want and want[1] > 0  # the cap actually bites here
    # minhash tier: same contract
    mb = dedup._minhash_bands(docs, "doc_id", "text", 8, 2, 3).collect()
    mcnt = Counter((r.band_id, r.band_key) for r in mb)
    mhot = {k for k, n in mcnt.items() if n > cap}
    mall = Counter(r.doc_id for r in mb)
    mhotc = Counter(r.doc_id for r in mb if (r.band_id, r.band_key) in mhot)
    mwant = (
        len(mcnt),
        len(mhot),
        sum(mcnt[k] for k in mhot),
        sum(1 for d, n in mall.items() if mhotc.get(d, 0) == n),
    )
    mr = dedup.minhash_cap_stats(docs, max_bucket=cap).first()
    assert (
        mr.n_buckets, mr.n_capped_buckets, mr.n_rows_dropped,
        mr.n_docs_fully_excluded,
    ) == mwant


def test_paragraph_dedup_boilerplate(spark):
    """Shared boilerplate survives once (in the smallest (doc, pos)
    slot), surviving paragraphs keep document order, a document made
    entirely of already-seen paragraphs disappears, and n_kept counts
    the survivors."""
    from kgflow.operators import dedup

    boiler = "accept our cookies"
    docs = spark.createDataFrame(
        [
            (1, f"intro one\n\n{boiler}\n\nbody one"),
            (2, f"{boiler}\n\nbody two"),
            (3, f"{boiler}\n\nintro one"),  # nothing new -> dropped
            (4, "body two\n\n\n\nfresh tail"),  # empty para filtered
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_kept)
        for r in dedup.paragraph_dedup(docs).collect()
    }
    assert got == {
        1: (f"intro one\n\n{boiler}\n\nbody one", 3),
        2: ("body two", 1),
        4: ("fresh tail", 1),
    }


def test_source_mix_plan_and_sample(spark):
    """Mixture semantics: targets split the budget by weight;
    an under-supplied source pins rate at 1 (keeps everything); an
    unlisted source gets rate 0 (excluded); the sampler's membership
    is exactly the shared md5-threshold rule, so it composes with
    hash_sample (subset at lower rate)."""
    from kgflow.operators import sample

    rows = [
        # big: 40 docs x 10 tokens = 400 tokens
        *[(i, "big", "t " * 10) for i in range(40)],
        # small: 4 docs x 10 tokens = 40 tokens (under-supplied)
        *[(100 + i, "small", "t " * 10) for i in range(4)],
        # ghost: not in weights -> dropped
        (200, "ghost", "t " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    weights = {"big": 1.0, "small": 1.0}
    plan = {
        r.source: (r.n_tokens_total, r.target_tokens, r.rate)
        for r in sample.source_mix_plan(docs, weights, 200).collect()
    }
    assert plan["big"] == (400, 100.0, 0.25)
    assert plan["small"] == (40, 100.0, 1.0)   # under-supplied, capped
    assert plan["ghost"] == (10, 0.0, 0.0)     # unlisted, excluded
    got = sample.source_mix_sample(docs, weights, 200).collect()
    assert all(r.source != "ghost" for r in got)
    assert sum(1 for r in got if r.source == "small") == 4  # rate 1 keeps all
    big_ids = {r.doc_id for r in got if r.source == "big"}
    # identical membership rule as hash_keep at the same rate
    want_big = {
        r.doc_id
        for r in docs.filter("source = 'big'")
        .filter(sample.hash_keep("doc_id", 0.25))
        .collect()
    }
    assert big_ids == want_big
    assert all(r.n_tokens == 10 for r in got)


def test_repetition_stats(spark):
    """Hand-checked repetition profile: a boilerplate doc dominated by
    one repeated bigram scores high on both signals; a no-repeat doc
    scores 0; a sub-bigram doc is excluded; count ties break toward
    the lexicographically larger gram (matching the oracle)."""
    from kgflow.operators import quality

    docs = spark.createDataFrame(
        [
            # "spam spam spam spam": dup_frac 3/4, top bigram
            # "spam spam" x3 -> frac min(1, 3*2/4) = 1.0
            (1, "spam spam spam spam"),
            # all-distinct: dup 0; bigrams each once, tie -> "c d"
            (2, "a b c d"),
            (3, "one"),  # < 2 tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (
            r.n_tokens,
            r.dup_token_frac,
            r.top_ngram,
            r.top_ngram_count,
            r.top_ngram_frac,
        )
        for r in quality.repetition_stats(docs, n=2).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (4, 0.75, "spam spam", 3, 1.0)
    assert got[2] == (4, 0.0, "c d", 1, 0.5)


def test_quality_gate(spark):
    """Every rule fires on a crafted doc and names itself; a clean doc
    passes with empty reasons; reasons sort ascending; unknown rule
    names raise instead of being ignored."""
    import pytest as _pytest

    from kgflow.operators import quality

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy sleeping dog"),
            (2, "to be"),                      # min_tokens
            (3, "a a a a a a a a a a"),        # dup + short avg len + no-sw... 
            (4, "incomprehensibilities " * 10),  # long avg token len
            (5, "xyzzy plugh abracadabra hocus pocus quux"),  # no stopwords
        ],
        "doc_id long, text string",
    )
    rules = {
        "min_tokens": 5,
        "max_tokens": 100,
        "min_avg_token_len": 2.0,
        "max_avg_token_len": 12.0,
        "max_dup_token_frac": 0.5,
        "min_stopword_ratio": 0.01,
    }
    got = {r.doc_id: (list(r.reasons), r.keep) for r in
           quality.quality_gate(docs, rules).collect()}
    assert got[1] == ([], True)
    assert got[2] == (["min_tokens"], False)
    # doc 3: 10 tokens, dup 0.9>0.5, avg len 1<2, no stopwords ('a' is
    # not in the marker lists)
    assert got[3] == (
        ["max_dup_token_frac", "min_avg_token_len", "min_stopword_ratio"],
        False,
    )
    # doc 4: one 21-char token repeated -> long avg len AND dup 0.9
    assert got[4] == (
        ["max_avg_token_len", "max_dup_token_frac", "min_stopword_ratio"],
        False,
    )
    assert got[5] == (["min_stopword_ratio"], False)
    with _pytest.raises(ValueError, match="unknown quality rules"):
        quality.quality_gate(docs, {"min_tokenz": 1})


def test_unigram_logprob_score(spark):
    """Hand-computed unigram cross-entropy: corpus a:2 b:2 c:1 (N=5),
    lp6(a)=lp6(b)=-397940, lp6(c)=-698970; exact integer sums make the
    scores partition-order independent. OOV tokens under a separate
    fit corpus count 0.5."""
    from kgflow.operators import quality

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.lm_score)
        for r in quality.ngram_logprob_score(docs, 1).collect()
    }
    assert got[1] == (3, -0.3979)
    assert got[2] == (2, -0.5485)
    # fit on docs, score a stream containing an unseen token: 0.5 count
    stream = spark.createDataFrame([(9, "a zzz")], "doc_id long, text string")
    (row,) = quality.ngram_logprob_score(stream, 1, fit_docs=docs).collect()
    # (-397940 + round(log10(0.5/5)*1e6) = -1000000) / 2e6 = -0.69897 -> -0.699
    assert (row.n_tokens, row.lm_score) == (2, -0.699)


def test_bigram_logprob_score(spark):
    """Hand-computed stupid-backoff bigram LM: corpus a:3 b:2 c:2
    (N=7), bigrams (a,b):2 (b,a):1 (b,c):1 (c,a):1. First token scored
    by unigram; seen bigrams by c(prev,cur)/c(prev); unseen bigrams by
    0.4*c(cur)/N with a 0.5-count floor for unseen tokens."""
    from kgflow.operators import quality

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "c a")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.lm_score)
        for r in quality.ngram_logprob_score(docs, 2).collect()
    }
    # doc1: lp6 = -367977 (uni a) -176091 (a,b) -301030 (b,a)
    #       -176091 (a,b) -301030 (b,c); sum/5e6 -> -0.2644
    assert got[1] == (5, -0.2644)
    # doc2: -544068 (uni c) -301030 (c,a); sum/2e6 -> -0.4225
    assert got[2] == (2, -0.4225)
    # backoff branch: fit on docs, score an unseen bigram + OOV token
    stream = spark.createDataFrame([(9, "a zzz")], "doc_id long, text string")
    (row,) = quality.ngram_logprob_score(stream, 2, fit_docs=docs).collect()
    # -367977 (uni a) + round(log10(0.4*0.5/7)*1e6) = -1544068
    assert (row.n_tokens, row.lm_score) == (2, -0.956)


def test_multimodal_resize_framesample_audio_match_reference(spark):
    """The round-6 multimodal completions (resize / video frame-sample
    / audio frame energy) each match an independent pure-python
    reference exactly: integer fit-into-box dims + nearest-neighbor
    thumbnail off the stub grid; endpoint-inclusive k*(nf-1)//7 frame
    selection with all-frames fallback; per-frame Σx²/peak over real
    little-endian int16 PCM decode (including the |-32768| widening)."""
    from kgflow.operators import multimodal as M

    ids = list(range(40))
    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def pix(w, h):
        c0 = (w % 8) + 8 * (h % 8)
        base = (w // 8) * 31 + (h // 8) * 17
        return [
            200 * ((((base + c * 40503) % 97) % 2) ^ (1 if c == c0 else 0))
            for c in range(64)
        ]

    img = d.select("doc_id", M.synth_png_payload("doc_id").alias("payload"))
    got_r = {
        r.doc_id: (r.width, r.height, r.new_width, r.new_height, r.thumb)
        for r in M.image_resize(img).collect()
    }
    want_r = {}
    for i in ids:
        w, h = 64 + i % 192, 64 + (i * 7) % 128
        if w * 32 <= h * 32:
            nh = min(h, 32)
            nw = max(1, w * nh // h)
        else:
            nw = min(w, 32)
            nh = max(1, h * nw // w)
        px = pix(w, h)
        want_r[i] = (w, h, nw, nh,
                     [px[2 * tx + 16 * ty] for ty in range(4) for tx in range(4)])
    assert got_r == want_r

    vid = d.select("doc_id", M.synth_video_payload("doc_id").alias("payload"))
    got_v = {
        (r.doc_id, r.frame_idx): (r.ts_ms, r.frame_key, r.n_frames, r.fps)
        for r in M.video_frame_sample(vid).collect()
    }
    want_v = {}
    for i in ids:
        nf, fps = 10 + i % 240, 12 + (i * 3) % 18
        sel = range(nf) if nf <= 8 else sorted({k * (nf - 1) // 7 for k in range(8)})
        for fi in sel:
            want_v[(i, fi)] = (fi * 1000 // fps, (i * 1000003 + fi) % 2147483647, nf, fps)
    assert got_v == want_v

    au = d.select("doc_id", synth_pcm_payload("doc_id").alias("payload"))
    got_a = {
        (r.doc_id, r.frame_idx): (r.sum_sq, r.peak, r.n_samples)
        for r in M.audio_frame_energy(au).collect()
    }
    want_a = {}
    for i in ids:
        n = 512 + i % 256
        xs = [((i * 2654435761 + j * 40503) % 65536) - 32768 for j in range(n)]
        for f in range(n // 128):
            seg = xs[f * 128 : (f + 1) * 128]
            want_a[(i, f)] = (sum(v * v for v in seg), max(abs(v) for v in seg), n)
    assert got_a == want_a


def test_image_phash_matches_reference_and_bruteforce(spark):
    """Image aHash tier: the mapInPandas decode (real PNG header parse
    + stub pixel grid) matches an independent python reference
    (dims re-derived from the id, pixel/mean/packing recomputed from
    the published formulas), and the banded near-pairs at hamming <= 3
    equal an all-pairs bit_count check — same completeness bar the
    text SimHash tiers pass."""
    from kgflow.operators import multimodal

    ids = list(range(100))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long").select(
        "doc_id", multimodal.synth_png_payload("doc_id").alias("payload")
    )

    def ref_hash(i):
        w, h = 64 + i % 192, 64 + (i * 7) % 128
        c0 = (w % 8) + 8 * (h % 8)
        base = (w // 8) * 31 + (h // 8) * 17
        px = [
            200 * ((((base + c * 40503) % 97) % 2) ^ (1 if c == c0 else 0))
            for c in range(64)
        ]
        mean = sum(px) / 64.0
        sig = sum(1 << c for c, p in enumerate(px) if p > mean)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    want_sig = {i: ref_hash(i) for i in ids}
    got = {
        r.doc_id: (r.width, r.height, r.phash)
        for r in multimodal.image_average_hash(docs).collect()
    }
    assert {i: v[2] for i, v in got.items()} == want_sig
    assert all(
        got[i][:2] == (64 + i % 192, 64 + (i * 7) % 128) for i in ids
    )

    mask = (1 << 64) - 1
    want = {
        (a, b, bin((want_sig[a] ^ want_sig[b]) & mask).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((want_sig[a] ^ want_sig[b]) & mask).count("1") <= 3
    }
    got_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.phash_near_pairs(docs).collect()
    }
    assert got_pairs == want and want  # non-vacuous


def test_trigram_logprob_score(spark):
    """Hand-computed pruned stupid-backoff trigram LM. Fit corpus
    "a b c a b c a b c" + "a b d": uni a:4 b:4 c:3 d:1 (N=12),
    bigrams (a,b):4 (b,c):3 (c,a):2 (b,d):1, trigrams (a,b,c):3
    (b,c,a):2 (c,a,b):2 kept, (a,b,d):1 PRUNED at min_count=2 — so
    doc2's third position must take the alpha*bigram backoff even
    though its trigram was observed at fit time."""
    from kgflow.operators import quality

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "a b d")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.lm_score)
        for r in quality.ngram_logprob_score(docs, 3, prune_min_count=2).collect()
    }
    # doc1 lp6: -477121 (uni a), 0 (bigram a,b = 4/4), then trigrams
    # (a,b,c)=3/4 -> -124939, (b,c,a)=2/3 -> -176091, (c,a,b)=2/2 -> 0
    # repeating; sum -1204120 / 9e6 -> -0.1338
    assert got[1] == (9, -0.1338)
    # doc2: -477121, 0, then (a,b,d) pruned -> 0.4*c2(b,d)/c1(b) =
    # 0.4/4 = 0.1 -> -1000000; sum -1477121 / 3e6 -> -0.4924
    assert got[2] == (3, -0.4924)
    # OOV + unseen-bigram floors: fit on docs, score "d a zzz":
    # -1079181 (uni d), -875061 (0.4*4/12), -2176091 (0.16*0.5/12)
    stream = spark.createDataFrame([(9, "d a zzz")], "doc_id long, text string")
    (row,) = quality.ngram_logprob_score(
        stream, 3, prune_min_count=2, fit_docs=docs
    ).collect()
    assert (row.n_tokens, row.lm_score) == (3, -1.3768)
    # prune observability on the same fit corpus
    (st,) = quality.trigram_prune_stats(docs, prune_min_count=2).collect()
    assert (st.kept_types, st.dropped_types, st.kept_mass, st.dropped_mass) == (
        3, 1, 7, 1,
    )


def _half_up(x: float, places: str) -> float:
    """Spark's ``round`` on a double: the shortest decimal form of
    ``x`` rounded HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(places), ROUND_HALF_UP))


def _ngram_reference(docs, n, prune_min_count=1, fit_docs=None):
    """Pure-Python stupid-backoff LM score, {doc_id: (n_tokens,
    lm_score)}: count every k-gram (k <= n) of the fit texts, prune the
    order-n types seen fewer than ``prune_min_count`` times, then score
    position i of a document at order k = min(n, i): c_k/c_{k-1}(ctx),
    else 0.4*c_{k-1}/c_{k-2}(ctx), down to 0.4^(k-1)*c1/N, with a
    0.5 count for a token the fit never saw. No fit tokens means no
    model: every position scores NULL."""
    from collections import Counter

    from kgflow.functions.text import py_tokens

    counts = Counter()
    for _, text in fit_docs if fit_docs is not None else docs:
        toks = py_tokens(text) or []
        for i in range(len(toks)):
            for k in range(1, min(n, i + 1) + 1):
                counts[tuple(toks[i - k + 1 : i + 1])] += 1
    total = sum(c for g, c in counts.items() if len(g) == 1)
    if prune_min_count > 1:
        counts = Counter(
            {g: c for g, c in counts.items() if len(g) < n or c >= prune_min_count}
        )

    def logprob(toks, i):
        k = min(n, i + 1)
        for j in range(k, 0, -1):
            gram = tuple(toks[i - j + 1 : i + 1])
            if j == 1:
                c, ctx = float(counts.get(gram, 0.5)), total
            elif gram in counts:
                c, ctx = counts[gram], counts[gram[:-1]]
            else:
                continue
            return None if not ctx else math.log10((0.4 ** (k - j) * c) / ctx)

    got = {}
    for doc_id, text in docs:
        toks = py_tokens(text)
        if not toks:
            continue
        lps = [logprob(toks, i) for i in range(len(toks))]
        lp6 = [int(_half_up(lp * 1_000_000, "1")) for lp in lps if lp is not None]
        score = (
            _half_up(sum(lp6) / (len(toks) * 1_000_000.0), "0.0001") if lp6 else None
        )
        got[doc_id] = (len(toks), score)
    return got


_lm_text = st.one_of(
    st.none(),
    st.sampled_from(["", " "]),
    st.lists(st.sampled_from(["a", "b", "c", "B"]), min_size=1, max_size=7).map(
        " ".join
    ),
)


@pytest.mark.parametrize("n", [1, 2, 3])
@settings(max_examples=8, deadline=None)
@given(
    st.lists(_lm_text, min_size=1, max_size=6),
    st.one_of(st.none(), st.lists(_lm_text, min_size=1, max_size=6)),
    st.sampled_from([1, 2]),
)
@example([None, "", "a", "a b a b c"], None, 2)
@example(["b c a", "c"], ["a b a b", None, " "], 1)
@example(["a b c"], [None], 1)
def test_ngram_logprob_score_matches_reference(spark, n, texts, fit_texts, prune):
    """``ngram_logprob_score`` equals the pure-Python stupid-backoff
    reference at every order, self-fit and on a separate fit corpus,
    pruned and unpruned, over null, blank and single-token documents."""
    from kgflow.operators import quality

    docs = list(enumerate(texts))
    fit = None if fit_texts is None else list(enumerate(fit_texts))
    schema = "doc_id long, text string"
    got = {
        r.doc_id: (r.n_tokens, r.lm_score)
        for r in quality.ngram_logprob_score(
            spark.createDataFrame(docs, schema),
            n,
            prune_min_count=prune,
            fit_docs=None if fit is None else spark.createDataFrame(fit, schema),
        ).collect()
    }
    assert got == _ngram_reference(docs, n, prune, fit)


def test_tfidf_top_terms(spark):
    """Hand-computed TF-IDF: N=3, every term has df=2 so idf6=176091
    everywhere; doc1's doubled "a" doubles its score; equal-score
    ties break toward the smaller token."""
    from kgflow.operators import extract

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b c")], "doc_id long, text string"
    )
    rows = {
        (r.doc_id, r.rank): (r.tok, r.tf, r.score6)
        for r in extract.tfidf_top_terms(docs, k=2).collect()
    }
    assert rows == {
        (1, 1): ("a", 2, 352182),
        (1, 2): ("b", 1, 176091),
        (2, 1): ("a", 1, 176091),  # tie with c -> smaller token first
        (2, 2): ("c", 1, 176091),
        (3, 1): ("b", 1, 176091),  # tie with c
        (3, 2): ("c", 1, 176091),
    }


def test_chunk_documents(spark):
    """Sliding windows: 10 tokens at chunk=4/stride=3 give starts
    0,3,6,9 with a 1-token tail; a doc shorter than the chunk yields
    one short chunk; default stride tiles exactly."""
    from kgflow.operators import sample

    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2, "x y")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
        for r in sample.chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    }
    assert got == {
        (1, 0): (4, "t1 t2 t3 t4"),
        (1, 1): (4, "t4 t5 t6 t7"),
        (1, 2): (4, "t7 t8 t9 t10"),
        (1, 3): (1, "t10"),
        (2, 0): (2, "x y"),
    }
    tiled = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in sample.chunk_documents(
            spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string"),
            chunk_tokens=2,
        ).collect()
    }
    assert tiled == {(9, 0): "a b", (9, 1): "c d", (9, 2): "e"}


def test_dedup_delta(spark):
    """Batch-vs-store dedup: exact tier catches normalized-whitespace
    copies (including sub-shingle docs, which carry NULL signatures),
    the near tier decides by >=6/8 minhash-component agreement
    computed here by an independent pure-python reference, and fresh
    docs come back unique."""
    import hashlib

    from kgflow.operators import dedup

    def sigs(text):
        t = text.lower().strip().split()
        sh = sorted(set(" ".join(t[i : i + 3]) for i in range(len(t) - 2)))
        if not sh:
            return None
        return [
            min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
            for i in range(8)
        ]

    store_docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "ff gg hh ii jj"), (3, "kk ll")],
        "doc_id long, text string",
    )
    store = dedup.build_dedup_store(store_docs)
    new = spark.createDataFrame(
        [
            (10, "AA  bb cc dd ee"),      # exact after normalization
            (11, "ff gg hh ii jj kk"),    # superstring of doc 2
            (12, "zz yy xx ww vv"),       # fresh
            (13, "kk  LL"),               # exact copy of the short doc
            (14, "kk ll mm"),             # one novel shingle, no match
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.status, r.dup_of)
        for r in dedup.dedup_delta(new, store).collect()
    }
    m11 = sum(
        a == b for a, b in zip(sigs("ff gg hh ii jj kk"), sigs("ff gg hh ii jj"))
    )
    exp11 = ("near", 2) if m11 >= 6 else ("unique", None)
    assert got[10] == ("exact", 1)
    assert got[11] == exp11
    assert got[12] == ("unique", None)
    assert got[13] == ("exact", 3)
    assert got[14] == ("unique", None)
    # the test is only meaningful if the near tier actually fired
    assert got[11][0] == "near", f"agreement {m11}/8 — adjust fixture"

    # the store cap keeps a bucket of exactly max_bucket rows and drops
    # one of max_bucket + 1 (the oracle's COUNT(*) OVER (...) <= cap)
    body = "the quick brown fox jumps over the lazy dog by the river bank today"
    assert sum(a == b for a, b in zip(sigs(body + " zqx"), sigs(body))) >= 6
    probe = spark.createDataFrame([(60, body + " zqx")], "doc_id long, text string")
    for copies, want in ((2, ("near", 100)), (3, ("unique", None))):
        copies_store = dedup.build_dedup_store(
            spark.createDataFrame(
                [(100 + i, body) for i in range(copies)], "doc_id long, text string"
            )
        )
        (r,) = dedup.dedup_delta(probe, copies_store, max_bucket=2).collect()
        assert (r.status, r.dup_of) == want, copies


def test_dedup_delta_store_maintenance(spark):
    """The maintained-store loop: after appending batch 1's unique
    survivors' store rows, batch 2 copies of those docs are caught as
    exact dups OF THE BATCH-1 IDS — dedup state accumulates across
    drops without ever rescanning text."""
    from kgflow.operators import dedup

    store = dedup.build_dedup_store(
        spark.createDataFrame([(1, "aa bb cc dd ee")], "doc_id long, text string")
    )
    batch1 = spark.createDataFrame(
        [(20, "pp qq rr ss tt"), (21, "aa bb cc dd ee")],
        "doc_id long, text string",
    )
    r1 = {r.doc_id: r.status for r in dedup.dedup_delta(batch1, store).collect()}
    assert r1 == {20: "unique", 21: "exact"}
    survivors = batch1.join(
        dedup.dedup_delta(batch1, store).filter("status = 'unique'").select("doc_id"),
        "doc_id",
    )
    store2 = store.unionByName(dedup.build_dedup_store(survivors))
    batch2 = spark.createDataFrame(
        [(30, "pp qq rr ss tt")], "doc_id long, text string"
    )
    (r2,) = dedup.dedup_delta(batch2, store2).collect()
    assert (r2.status, r2.dup_of) == ("exact", 20)


def _spread_plan(df) -> str:
    """Physical plan of ``df`` as planned, before any execution."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_single_split_scan_gets_one_round_robin(spark, tmp_path):
    """A one-split scan is spread by exactly today's exchange:
    one ``RoundRobinPartitioning(defaultParallelism)``."""
    from kgflow.operators.util import spread

    path = str(tmp_path / "one")
    spark.range(0, 40).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    n = spark.sparkContext.defaultParallelism
    plan = _spread_plan(spread(df))
    assert plan.count("RoundRobinPartitioning") == 1
    assert f"RoundRobinPartitioning({n})" in plan


def test_spread_large_single_row_group_file_gets_round_robin(spark, tmp_path):
    """One single-row-group parquet file of 4 * defaultParallelism MB
    plans many byte-range splits, but only the split holding the row
    group's midpoint reads rows: the scan is spread all the same."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgflow.operators.util import spread

    n = spark.sparkContext.defaultParallelism
    rows = 4 * n * 16  # 64 KB of random bytes per row: 4 * n MB
    table = pa.table({"b": [os.urandom(65_536) for _ in range(rows)]})
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(table, path, row_group_size=rows, use_dictionary=False)
    assert pq.ParquetFile(path).num_row_groups == 1
    assert os.path.getsize(path) >= 4 * n * 2**20

    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() >= n  # splits, not row-bearing ones
    sizes = scan.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sorted(sizes)[-2:] == [0, rows]
    plan = _spread_plan(spread(scan))
    assert plan.count("RoundRobinPartitioning") == 1
    assert f"RoundRobinPartitioning({n})" in plan


def test_many_small_bucket_files_plan_at_most_one_split_per_core(spark, tmp_path):
    """A ``bucket=``-partitioned dataset of 8 * defaultParallelism tiny
    files is packed by Spark's own split rule into at most one split
    per core: the session sets no smaller split size that would add
    tasks past the core count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = spark.sparkContext.defaultParallelism
    files = 8 * n
    table = pa.table({"bucket": list(range(files)), "v": list(range(files))})
    path = str(tmp_path / "buckets")
    pq.write_to_dataset(table, path, partition_cols=["bucket"])
    scan = spark.read.parquet(path)
    assert len(scan.inputFiles()) == files
    assert scan.rdd.getNumPartitions() <= n


def test_no_inline_default_parallelism_repartition():
    """The scan-spread rule lives in ``util.spread`` alone: no other
    ``repartition(...)`` call in ``kgflow/`` or ``__spark_entry__.py``
    takes a ``defaultParallelism`` argument."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "__spark_entry__.py", *sorted((root / "kgflow").rglob("*.py"))]
    hits = []
    for f in files:
        if f.name == "util.py" and f.parent.name == "operators":
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and any("defaultParallelism" in ast.unparse(a) for a in node.args)
            ):
                hits.append(f"{f.relative_to(root)}:{node.lineno}")
    assert hits == []


# Batch reads that infer their schema from the files, as
# "<file stem>.<enclosing function>", each with the reason it does.
_INFERRING_READS = {
    "incremental.incremental_doc_stats": "probes the caller's document drop for its shape",
    "incremental.streaming_sessions": "probes the caller's event drop for its shape",
}


def test_batch_reads_declare_their_schema():
    """Every ``.read.parquet(`` / ``.read.json(`` call in ``kgflow/`` and
    ``__spark_entry__.py`` has ``.schema(`` in its receiver chain: a read
    without one starts a Spark job to infer the schema from the footers.
    Only the reads of ``_INFERRING_READS`` infer, and each of its
    entries still names such a read."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "__spark_entry__.py", *sorted((root / "kgflow").rglob("*.py"))]
    hits, seen = [], set()

    def chain(node):
        """Attribute names of a call's receiver chain, innermost last."""
        names = []
        while isinstance(node, ast.Call | ast.Attribute):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
            node = node.func if isinstance(node, ast.Call) else node.value
        return names

    def visit(node, f, scope):
        if isinstance(node, ast.FunctionDef):
            scope = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("parquet", "json")
        ):
            names = chain(node.func.value)
            if "read" in names and "schema" not in names:
                key = f"{f.stem}.{scope}"
                if key in _INFERRING_READS:
                    seen.add(key)
                else:
                    hits.append(f"{f.relative_to(root)}:{node.lineno} {key}")
        for child in ast.iter_child_nodes(node):
            visit(child, f, scope)

    for f in files:
        visit(ast.parse(f.read_text()), f, "<module>")
    assert hits == []
    assert seen == set(_INFERRING_READS)


# Top-level kgflow names that no product entry point reaches but that
# stay, as "<module>.<name>" (module = file stem, the package for an
# __init__.py), each with the reason it stays. What an entry's body
# reaches needs no entry of its own (imports.FactSpec, parse_obo, ...).
_UNREACHED_KEEP = {
    # streaming/checkpoint surface: fixed product beside queries()
    "incremental.incremental_extract": "availableNow incremental triple run",
    "incremental.read_stream_triples": "reads what incremental_extract wrote",
    "incremental.streaming_sessions": "streaming twin of sessionize",
    "stateful.stateful_next_turn": "cross-batch NEXT_TURN state",
    "stateful.streaming_exact_dedup": "cross-batch exact dedup state",
    "canon.update_components": "additions half of the retract_components pair",
    # ingestion API
    "readers.load_obo": "the README example's lexicon loader",
    "readers.read_delimited": "COVERAGE S1/S3 header CSV/TSV scan",
    "readers.read_positional": "COVERAGE S2 headerless positional scan",
    "imports.import_edge_table": "SURVEY P10 edge-table import, its only implementation",
    "imports.import_fact_table": "SURVEY P11 fact-table import, its only implementation",
    # package metadata
    "kgflow.__version__": "package version",
}


def _parse_without_docstrings(path):
    """The AST of the file at ``path`` with every module, class and
    function docstring dropped."""
    import ast

    tree = ast.parse(path.read_text())
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return tree


def _kgflow_call_graph(root):
    """(definitions, edges, root keys) of kgflow's top-level names.

    A definition is a top-level ``def``, ``class`` or assigned name of a
    ``kgflow/**/*.py`` file, keyed "<module>.<name>" and mapped to its
    (path, line). ``edges[key]`` holds the definitions its body refers
    to; the root keys are those the product entry points
    (``__spark_entry__.py``, ``bench*.py``, ``tools/``, ``perfbench/``)
    and kgflow's own module-level code refer to. A reference is a bare
    name, an attribute, an imported name or an identifier-shaped string
    (``getattr`` and the perfbench tracer name functions by string);
    docstrings are dropped first, so a name a docstring mentions is no
    caller. Resolution is by name alone: the scan can miss dead code
    that shares a name with live code, never flag live code."""
    import ast

    def refs(node):
        out = set()
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out.add(x.name.rsplit(".", 1)[-1])
            elif isinstance(x, ast.Constant) and isinstance(x.value, str):
                if x.value.isidentifier():
                    out.add(x.value)
        return out

    defs, bodies, by_name, seeds = {}, {}, {}, set()
    for f in sorted((root / "kgflow").rglob("*.py")):
        module = f.parent.name if f.stem == "__init__" else f.stem
        for st in _parse_without_docstrings(f).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue  # a binding, not a use
            else:
                seeds |= refs(st)  # other module-level code runs on import
                continue
            for name in names:
                key = f"{module}.{name}"
                defs[key] = (f.relative_to(root), st.lineno)
                bodies[key] = refs(st)
                by_name.setdefault(name, []).append(key)
    for f in [
        root / "__spark_entry__.py",
        *sorted(root.glob("bench*.py")),
        *sorted((root / "tools").rglob("*.py")),
        *sorted((root / "perfbench").rglob("*.py")),
    ]:
        seeds |= refs(_parse_without_docstrings(f))

    def keys(names):
        return {k for n in names for k in by_name.get(n, ())}

    return defs, {k: keys(b) for k, b in bodies.items()}, keys(seeds)


def _reach(edges, start):
    seen, todo = set(), list(start)
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += edges[key]
    return seen


def test_every_public_kgflow_name_is_reached():
    """Every top-level kgflow definition is reached from a product entry
    point through the bodies of reached definitions, or from an entry of
    ``_UNREACHED_KEEP``. Tests are no callers. Each entry must name a
    definition that nothing else reaches."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    defs, edges, roots = _kgflow_call_graph(root)
    keep = _UNREACHED_KEEP.keys() & defs.keys()
    left = sorted(defs[k] + (k,) for k in defs.keys() - _reach(edges, roots | keep))
    assert not left, (
        f"{len(left)} top-level kgflow name(s) that no product entry point "
        "reaches (__spark_entry__.py, bench*.py, tools/, perfbench/). Give "
        "each a product caller, delete it, or add it to _UNREACHED_KEEP in "
        "tests/test_operators.py with the reason it stays:\n"
        + "\n".join(f"  {path}:{line} {key}" for path, line, key in left)
    )
    stale = sorted(
        k
        for k in _UNREACHED_KEEP
        if k not in defs or k in _reach(edges, roots | (keep - {k}))
    )
    assert not stale, (
        "_UNREACHED_KEEP entries that name no kgflow definition, or that a "
        f"product entry point or another entry already reaches; drop them: {stale}"
    )


#: exact clones the scan below tolerates, keyed by the sorted
#: "<module>.<top-level name>" of the definitions holding the copies,
#: each with the reason both copies stay
_CLONES_KEEP: dict[tuple[str, ...], str] = {}


def test_no_exact_clones_in_kgflow():
    """No rule is stated twice: no two call, assign, return, if or for
    nodes of at least 40 AST nodes in ``kgflow/`` or
    ``__spark_entry__.py`` dump identically (docstrings dropped), unless
    ``_CLONES_KEEP`` names their holders with a reason. Only exact subtrees
    match — a copy that differs by one name or filter passes — so this
    is a floor under the one-rule sweep, not a proof."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    groups = {}
    for f in [root / "__spark_entry__.py", *sorted((root / "kgflow").rglob("*.py"))]:
        for top in _parse_without_docstrings(f).body:
            owner = f"{f.stem}.{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, (ast.Call, ast.Assign, ast.Return, ast.If, ast.For)):
                    size = sum(1 for _ in ast.walk(node))
                    if size >= 40:
                        loc = (f.relative_to(root), node.lineno, node.end_lineno, owner)
                        groups.setdefault(ast.dump(node), (size, []))[1].append(loc)
    # one report per set of holders, showing its largest copied subtree
    found = {}
    for _, locs in sorted(groups.values(), key=lambda g: -g[0]):
        if len(locs) > 1:
            found.setdefault(tuple(sorted({loc[3] for loc in locs})), locs)
    new = {k: v for k, v in found.items() if k not in _CLONES_KEEP}
    assert not new, (
        "exact copies of one rule; state it once, or add the holders to "
        "_CLONES_KEEP in tests/test_operators.py with the reason both stay:\n"
        + "\n".join(
            "  " + "  ==  ".join(f"{p}:{a}-{b}" for p, a, b, _ in locs)
            for locs in new.values()
        )
    )
    stale = sorted(set(_CLONES_KEEP) - set(found))
    assert not stale, f"_CLONES_KEEP entries that no longer name a copy; drop them: {stale}"


def _py_minhash(text, k=8, n=3):
    """Reference MinHash components of one text: md5(i‖shingle) min
    over its distinct word n-grams, None when it cannot shingle."""
    import hashlib

    from kgflow.functions import text as tx

    toks = tx.py_tokens(text)
    if toks is None or len(toks) < n:
        return None
    sh = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
    return [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
        for i in range(k)
    ]


def test_minhash_memo_bound_keeps_signatures(spark, monkeypatch):
    """With the per-task md5 memos capped at 2 entries (cleared over and
    over inside every task), ``minhash_signatures`` and
    ``build_dedup_store`` still equal the reference signatures, and
    ``simhash16`` / ``simhash64`` their uncapped signatures: the memos
    are pure caches."""
    from kgflow.functions import text as tx

    words = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    rows = [
        (i, " ".join(words[(i + j * (1 + i % 3)) % 7] for j in range(4 + i % 6)))
        for i in range(60)
    ] + [(100, "too short"), (101, None), (102, "aa bb cc aa bb cc")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(2)
    want = {d: _py_minhash(t) for d, t in rows}

    def simhashes():
        return [
            sorted(tuple(r) for r in f(docs).collect())
            for f in (dedup.simhash16, dedup.simhash64)
        ]

    uncapped = simhashes()
    monkeypatch.setattr(dedup, "_MD5_MEMO_ENTRIES", 2)
    assert simhashes() == uncapped

    got = {
        r.doc_id: [r[f"sig_{i}"] for i in range(8)]
        for r in dedup.minhash_signatures(docs).collect()
    }
    assert got == {d: s for d, s in want.items() if s is not None}

    store = {
        r.doc_id: (r.fingerprint, [r[f"sig_{i}"] for i in range(8)])
        for r in dedup.build_dedup_store(docs).collect()
    }
    assert store == {
        d: (tx.py_fingerprint(t), want[d] or [None] * 8) for d, t in rows
    }


def _hot_bucket_frames(spark):
    """(docs, new): six copies of one boilerplate text, whose LSH buckets
    are hot at ``max_bucket=3``, six distinct docs, and a batch holding
    a near copy, an exact copy, a fresh doc and a near copy of the
    boilerplate (unique: all its agreeing buckets are hot)."""
    boiler = "subscribe to our newsletter for updates and offers every day"
    own = [f"doc {i} with its own words number {i} here and then some more" for i in range(6)]
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(6)] + [(10 + i, t) for i, t in enumerate(own)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (50, own[1] + " zqx"),
            (51, boiler),
            (52, "fresh words never seen before anywhere at all"),
            (53, boiler + " zqx"),
        ],
        "doc_id long, text string",
    )
    return docs, new


@contextlib.contextmanager
def _session_conf(spark, settings):
    """``settings`` (conf key → value) set inside, restored after."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _no_auto_broadcast(spark):
    """``spark.sql.autoBroadcastJoinThreshold`` = -1 inside, restored
    after: only a hint can broadcast, and AQE picks no broadcast join
    from runtime sizes."""
    return _session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})


def test_hot_bucket_caps_are_windows(spark, tmp_path):
    """Both hot-bucket caps are one window over the bucket columns, the
    oracle's ``COUNT(*) OVER (PARTITION BY band_id, key)``:
    ``minhash_cap_stats`` plans no join, no broadcast and no checkpoint
    (an ``ExistingRDD`` scan), and ``dedup_delta`` over a plain store
    plans no anti join on the band columns and no broadcast."""
    docs, new = _hot_bucket_frames(spark)
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    docs = spark.read.parquet(path)  # a file scan: no ExistingRDD input
    with _no_auto_broadcast(spark):
        stats = dedup.minhash_cap_stats(docs, max_bucket=3)
        assert stats.first().n_capped_buckets > 0
        cap_plan = stats._jdf.queryExecution().executedPlan().toString()
        delta = dedup.dedup_delta(new, dedup.build_dedup_store(docs), max_bucket=3)
        assert sorted(tuple(r) for r in delta.collect()) == [
            (50, "near", 11), (51, "exact", 0), (52, "unique", None), (53, "unique", None),
        ]
        delta_plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "Window" in cap_plan
    for node in ("Join", "BroadcastExchange", "ExistingRDD"):
        assert node not in cap_plan, node
    # the exact tier's anti join sits under the kept survivor-signature
    # checkpoint, which the plan shows as an ExistingRDD scan
    anti = [line for line in delta_plan.splitlines() if "LeftAnti" in line]
    assert not [line for line in anti if "band_key" in line]
    assert "Window [count(1)" in delta_plan
    assert "BroadcastExchange" not in delta_plan


def test_hot_bucket_cap_job_counts(spark):
    """Jobs one call of ``minhash_cap_stats`` and of ``dedup_delta``
    starts on a fixed small frame, broadcasts off (each AQE query stage
    is one job). The window caps start fewer than the hot-key aggregate,
    gated broadcast and checkpoint they replace (11 and 26)."""
    docs, new = _hot_bucket_frames(spark)
    store = dedup.build_dedup_store(docs)
    sc = spark.sparkContext

    def jobs(name, build):
        # the frame is built inside the group: jobs a build starts count,
        # and a lazy checkpoint's jobs run under the group it was built in
        group = f"test-hot-bucket-{name}"
        sc.setJobGroup(group, name)
        try:
            build().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    with _no_auto_broadcast(spark):
        cap_jobs = jobs("cap", lambda: dedup.minhash_cap_stats(docs, max_bucket=3))
        delta_jobs = jobs(
            "delta", lambda: dedup.dedup_delta(new, store, max_bucket=3)
        )
    # minhash_cap_stats: the docs' round-robin spread, the MinHash bands'
    # (band_id, band_key) exchange, the window's per-doc partial
    # aggregate into the doc_id exchange, the per-doc sums into the
    # single-partition exchange, and the result stage
    assert cap_jobs == 5
    # dedup_delta: 6 jobs compute the kept survivor-signature checkpoint
    # (the exact tier and the MinHash pass, one job per stage) and 14 run
    # the outer query: the exact tier for the result, the store bands'
    # window exchange, the band join, the agreement verify and the two
    # left joins of the result
    assert delta_jobs == 20


def test_hot_bucket_window_spills_one_1e4_row_bucket(spark):
    """One hot bucket of 10,000 rows (every doc has the same text; one
    band) under window buffers of 1024 rows: the cap window spills it
    instead of holding it in memory, and the cap stats are those of a
    run with the default buffers."""
    import re

    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text in every one of the documents").alias("text"),
    )

    def stats():
        return dedup.minhash_cap_stats(docs, num_hashes=2, band_size=2).collect()

    want = stats()
    assert [tuple(r) for r in want] == [(1, 1, 10_000, 10_000)]
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        jsc.listenerBus().waitUntilEmpty()
        xs = store.executionsList()
        return [xs.apply(i).executionId() for i in range(xs.size())]

    before = max(executions(), default=-1)
    # a window partition of more buffered rows than these spills
    buffers = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "1024",
        "spark.sql.windowExec.buffer.spill.threshold": "1024",
    }
    with _session_conf(spark, buffers):
        assert stats() == want
    spills = []
    for eid in (e for e in executions() if e > before):
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for node in (nodes.apply(i) for i in range(nodes.size())):
            if node.name() != "Window":
                continue
            metrics = node.metrics()
            for m in (metrics.apply(i) for i in range(metrics.size())):
                v = values.get(m.accumulatorId())
                if m.name() == "spill size" and v.isDefined():
                    # "576.0 MiB", or "total (min, med, max ...)\n<total> (...)"
                    total = re.findall(r"([\d.,]+) [KMGT]?i?B", v.get())[0]
                    spills.append(float(total.replace(",", "")))
    assert spills and max(spills) > 0, spills

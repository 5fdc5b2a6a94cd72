"""Vector similarity search over ``array<float>`` embedding columns.

Replaces the reference's Neo4j vector index + ``db.index.vector.
queryNodes`` (``neo4j_pubmed_batch_embeddings_processor.py:722-812``)
with the Spark-idiomatic shapes:

* ``brute_force_topk`` — broadcast the (small) query set, score every
  row, per-query window top-k. Exact; the baseline. One pass over the
  corpus, no shuffle of the corpus itself (only the tiny top-k heap
  per partition via window).
* ``lsh_bucket_topk`` — random-hyperplane sign-LSH bucketing: corpus
  and queries hash to buckets; scoring happens only inside matching
  buckets. Approximate; the 100 TB path (corpus shuffle is replaced by
  a bucket-key join; recall tunable by number of hyperplanes/tables).

All arithmetic folds left-to-right in float64 so the DuckDB oracle
reproduces scores bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Output: (query_id, neighbor_id, rank, score) — rank 1..k, score
    rounded to 4 dp, ties broken by neighbor id (deterministic, unlike
    the reference's index order).
    """
    spark = corpus.sparkSession
    # per-row norms are hoisted OUT of the per-pair expression: with
    # |Q| queries each corpus row previously re-folded its own norm |Q|
    # times (and the query's once per pair); precomputing both leaves
    # one dot-fold per pair. norm(a)*norm(b) is a commutative IEEE
    # multiply, so score doubles are bit-identical. The round-robin
    # repartition spreads the single-split scan (testdata artifact).
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("_cn", norm(F.col("_cv")))
    )
    # corpus stays partition-local; the (small) query set is broadcast
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")), 4).alias(
                "score"
            ),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (hash-based, no RNG state)."""
    import hashlib
    import struct

    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            vals.append((u / 2**64) * 2.0 - 1.0)
        planes.append(vals)
    return planes


def sign_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Concatenated sign bits of ⟨v, plane_p⟩ → bucket key string."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for plane in planes:
        arr = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(
            F.zip_with(v, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's sign-LSH
    bucket. At scale: corpus bucketing is a narrow map; the join shuffles
    on the short bucket key instead of broadcasting the whole corpus."""
    spark = corpus.sparkSession
    planes = hyperplanes(dim, n_planes, seed)
    # spread the single-split scan before the CPU-heavy plane dots,
    # and hoist per-row norms out of the per-pair score (see
    # brute_force_topk — bit-identical, commutative multiply)
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "neighbor_id",
            "_cv",
            sign_bucket(F.col("_cv"), planes).alias("_bucket"),
            norm(F.col("_cv")).alias("_cn"),
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        sign_bucket(vec_col, planes).alias("_bucket"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    scored = c.join(F.broadcast(q), "_bucket").select(
        "query_id",
        "neighbor_id",
        F.round(dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")), 4).alias(
            "score"
        ),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hybrid search (E5): score first, filter after — replicating the
    reference's order of operations (vector top-k then metadata WHERE,
    cql/embeddings/pubmed_embeddings.cql:48-61) generalized to filter
    pre-ranking so k survivors are returned."""
    scored = brute_force_topk(
        corpus.filter(predicate), queries, k=k, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    )
    return scored


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Vectorized brute-force top-k: per-partition numpy matmul against
    the broadcast query matrix, per-partition top-k shortlist, then a
    global window over the tiny shortlist.

    Same contract as ``brute_force_topk`` (score rounded to 4 dp, ties
    by neighbor id) but ~1–2 orders faster per row at high dims: one
    BLAS GEMM per Arrow batch instead of a JVM fold per pair, and only
    ``k`` candidates per (partition, query) ever reach the shuffle —
    the scale path when the query set is small and the corpus is huge.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # contract: the query set is small (fits the driver/broadcast) —
    # this collect is the deliberate boundary, not a hot-path leak
    qrows = queries.select(query_id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm, k))

    # derive output id types from the inputs — string/int corpora keep
    # contract equivalence with the JVM brute_force_topk
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, neighbor_id {nid_t}, score double"

    def score(batches):
        qids_, qmat_, qnorm_, k_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            cmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ qmat_.T) / np.outer(cnorm, qnorm_)
            for qi, qid in enumerate(qids_):
                col = sims[:, qi]
                mask = ids != qid
                cand_ids = ids[mask]
                # round BEFORE selection and break ties by ascending id —
                # the same ordering contract as brute_force_topk and the
                # SQL oracle (selecting on raw scores could keep a
                # different member of a rounds-equal tie group)
                cand = np.round(col[mask], 4)
                if len(cand) == 0:
                    continue
                top = min(k_, len(cand))
                order = np.lexsort((cand_ids, -cand))[:top]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[order],
                        "score": cand[order],
                    }
                )

    shortlist = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        shortlist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic Lloyd iterations with DataFrame ops only.

    Init: the k rows with the lowest ids (deterministic, no RNG).
    Assign: broadcast centroid literals, argmin of squared distance.
    Update: per-dimension mean via posexplode + avg (one shuffle per
    iteration, k×dim result collected to the driver — centroids are
    dimension-scale, the corpus never leaves executors).
    """
    seed_rows = (
        corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [list(map(float, r[0])) for r in seed_rows]

    for _ in range(iters):
        assigned = assign_clusters(corpus, centroids, vec_col)
        upd = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in upd:
            new[r["cluster"]][r["dim"]] = float(r["m"])
        if new == centroids:
            break
        centroids = new
    return centroids


def assign_clusters(
    corpus: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Adds ``cluster`` = argmin squared distance to the centroid list
    (broadcast as literals; ties break to the lower cluster id)."""
    dists = []
    for ci, c in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        dists.append(F.struct(d.alias("d"), F.lit(ci).alias("c")))
    best = F.array_min(F.array(*dists))
    return corpus.withColumn("cluster", best["c"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: corpus rows carry a coarse cluster id; each query
    probes its ``nprobe`` nearest clusters and scores only inside them.
    At 100 TB the assignment is precomputed/partitioned-by-cluster, so a
    probe touches nprobe/k of the data."""
    # spread the single-split scan before the per-centroid distance
    # folds (k interpreted O(dim) aggregates per row)
    corpus = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    c_assigned = assign_clusters(corpus, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cluster"
    )
    # queries: nprobe nearest centroids each (tiny driver-side math is
    # avoided — same argmin construction, exploded to nprobe rows)
    dists = []
    for ci, c in enumerate(centroids):
        arr = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: (x.cast("double") - y) ** 2),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        dists.append(F.struct(d.alias("d"), F.lit(ci).alias("c")))
    probes = F.slice(F.array_sort(F.array(*dists)), 1, nprobe)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(probes).alias("_p"),
    ).select("query_id", "_qv", F.col("_p.c").alias("cluster"))
    scored = c_assigned.join(F.broadcast(q), "cluster").select(
        "query_id",
        "neighbor_id",
        F.round(cosine("_qv", "_cv"), 4).alias("score"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )

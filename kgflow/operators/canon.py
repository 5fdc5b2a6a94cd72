"""Canonicalization: duplicate-group resolution and iterative
connected-components entity consolidation.

The reference consolidates equivalent entities pairwise
(``cql/remediation/remediate_gene_node.cql:5-52``: copy props, migrate
edges, delete source) and canonicalizes symmetric edges with the
non-deterministic internal-id ordering ``id(u1) < id(u2)``
(``cql/import/uniprot/uniprot_intact.cql:30-39``). Here:

* symmetric pairs are ordered where they are built (query
  ``symmetric_pairs`` keeps ``a < b``; the extraction kernel sorts each
  CO_OCCURS_WITH pair) — deterministic, no internal ids;
* duplicate groups resolve by window ``row_number() == 1`` with an
  explicit tie-break (``cql/remediation/remediate_duplicate_pubmed_ids
  .cql:1-13`` kept ``nodes[0]`` — order-dependent; we keep min(key));
* chained equivalences (A↔B↔C across id spaces) resolve by iterative
  min-label propagation to a fixpoint — pure DataFrame hash joins, no
  GraphFrames dependency.

Scale notes: each iteration is one shuffle-join plus one groupBy-min;
``min`` is algebraic so map-side partial aggregation absorbs hot-key
skew before the shuffle (plus AQE skew-join splitting). Lineage is
truncated every iteration with ``localCheckpoint`` so plans stay O(1)
deep regardless of iteration count. Iterations are O(log d) in the
graph diameter for the doubling variant below.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: codec for the CC loop's checkpoint spills — zstd compresses the
#: long-pair merge maps ~3× tighter than Spark's snappy default at
#: negligible extra CPU, on a loop that is spill-disk-bandwidth-bound
#: at high core counts (PERF.md §22). Two tempting "optimizations"
#: MEASURED AND REJECTED at 10M edges / 16 cores, same window
#: (PERF.md §23): folding the dmap spill into the first doubling pass
#: (the groupBy-min aggregate recomputes on both join sides — no
#: exchange reuse — 90.5 → 128.8 s) and persisting the dmap in memory
#: instead of spilling (90.5 → 156.2 s; the InMemoryRelation starves
#: AQE and serializes the cache build). The parquet spill IS the fast
#: form.
_SPILL_CODEC = "zstd"

#: Edge sets up to this many rows are resolved by a driver union-find
#: (``_components``' size gate and the distributed loop's finisher).
_DRIVER_EDGES = 200_000


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Duplicate-group resolution (C3): deterministic keep-one per key."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _union_find_map(rows) -> dict:
    """Driver-side union-find over (a, b) edge pairs; returns the full
    (member -> min-of-component) map. Union-by-value (larger root links
    under smaller root) guarantees every root is the component minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    members = sorted(set(parent) | {find(k) for k in parent})
    return {m: find(m) for m in members}


def _hadoop_rm(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works for any
    scheme (hdfs://, s3a://, file:/) unlike shutil, which only handles the
    driver-local filesystem."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def _resolve_spill_dir(spark, checkpoint_dir: str | None) -> str:
    """Pick a spill location VISIBLE TO ALL EXECUTORS. Under a multi-node
    master, executors commit parquet task files to wherever the path
    resolves on *their* machines — a driver-local tempdir would leave the
    driver reading missing/empty data. Resolution order: explicit param >
    sparkContext checkpoint dir > warehouse dir (shared storage on real
    deployments) > driver-local temp (only safe for local/local-cluster
    masters, where every process shares the driver's filesystem)."""
    run = f"kgflow_cc_{uuid.uuid4().hex[:12]}"
    if checkpoint_dir:
        return f"{checkpoint_dir.rstrip('/')}/{run}"
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt:
        return f"{ckpt.rstrip('/')}/{run}"
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        # local[*] / local-cluster[...]: one host, one filesystem
        import tempfile

        return tempfile.mkdtemp(prefix=run)
    # multi-node without a checkpoint dir: the warehouse dir is the one
    # location conventionally on shared storage
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh.rstrip('/')}/{run}"


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, canonical_id) for every id reachable through same-as edges.

    canonical_id = min(member id) of the component (FIXTURES.md §8
    expected output). Algorithm: undirected min-label propagation with
    label-graph contraction — each round joins current labels across
    edges AND rewrites the edge set onto the label space (pointer
    doubling), giving O(log d) rounds instead of O(d).
    """
    comp = _components(edges, src, dst, max_iter, checkpoint_dir)
    if isinstance(comp, DataFrame):
        return comp
    # preserve the caller's id type — hardcoding string would make
    # the operator crash below the threshold but work above it
    id_type = edges.select(src).dtypes[0][1]
    return edges.sparkSession.createDataFrame(
        list(comp.items()), f"id {id_type}, canonical_id {id_type}"
    )


def _components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> dict | DataFrame:
    """:func:`connected_components`' mapping as it comes out of its
    size gate: a driver dict (id → canonical id, ids on an edge only)
    when the edge set fits ``_DRIVER_EDGES``, else the distributed
    (id, canonical_id) frame. Callers that rewrite a column through the
    mapping take the dict as it is (``link.canonicalize``) instead of
    joining a frame built from it."""
    spark = edges.sparkSession
    # No up-front dropDuplicates: duplicate edges change nothing in the
    # min-merge (groupBy-min is duplicate-insensitive) and the first
    # round's post-rewrite dedup absorbs them — an eager dedup here
    # would pay a full edge-set shuffle (the single largest frame this
    # operator touches) purely to re-derive what round 1 gets for free.
    # Heavily-duplicated inputs carry their duplicates through exactly
    # one rewrite before collapsing.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    # Fast path: same-as graphs derived from ontology lexicons are
    # dimension-scale (the reference parses whole ontologies in the
    # driver, import_go_obo.py:64-145). Below the threshold a driver
    # union-find beats ~10 distributed join rounds of fixed latency;
    # the iterative path below is the 100 TB route. One bounded collect
    # is both the gate and the driver path's input: raw rows that fit
    # are used as they are — the union-find is duplicate-insensitive.
    # Arrow collects a limit in ONE job (each partition's first rows
    # shuffle to one task), where ``collect`` would scan partitions in
    # growing rounds of jobs. The edge set is read once here, so it is
    # not cached: a frame under the threshold persists nothing.
    rows = e.limit(_DRIVER_EDGES + 1).toArrow()
    if rows.num_rows <= _DRIVER_EDGES:
        return _union_find_map(zip(rows["a"].to_pylist(), rows["b"].to_pylist()))
    # lazy-materialize ONCE above the threshold: the gate's count, the
    # dedup collect, and (on the distributed path) the initial labels
    # AND the edge rewrite all consume `e`. Without a barrier each
    # consumer re-runs the caller's arbitrary upstream plan — for
    # dedup_clusters that is the whole LSH + Jaccard-verify pipeline,
    # measured as a full second execution at sf1.0. (The bounded
    # collect above ran it once already; only over-threshold graphs pay
    # that pass twice.) The cache is disk-backed executor storage of
    # the edge set, the same order as the parquet spills the loop
    # already writes.
    e = e.localCheckpoint(eager=False)
    id_type = dict(e.dtypes)["a"]
    # Two-stage gate: the raw-row count over-counts under heavy edge
    # duplication (re-asserted same-as links across ontology drops),
    # which would push a driver-sized graph onto ~10 distributed
    # rounds. When the raw count lands in a bounded band above the
    # threshold (≤16×), pay one dedup-count on that bounded set to see
    # whether the DISTINCT edge set fits the driver after all; far above
    # the band the dedup count would be a corpus-scale shuffle spent on
    # a gate that is almost surely over anyway, so it is skipped.
    n_edges = e.limit(16 * _DRIVER_EDGES + 1).count()
    if n_edges <= 16 * _DRIVER_EDGES:
        # materialized once: the gating count and the collect below
        # would otherwise run the dedup shuffle twice (ADVICE r6)
        e_dist = e.dropDuplicates().localCheckpoint(eager=False)
        if e_dist.limit(_DRIVER_EDGES + 1).count() <= _DRIVER_EDGES:
            return _union_find_map(e_dist.collect())

    # ------------------------------------------------------------------
    # Distributed path: min-merge GRAPH CONTRACTION with parquet-spill
    # checkpoints. Two hard-won lessons are encoded here (PERF.md §15):
    #
    # 1. The iteration state is checkpointed to PARQUET, not
    #    localCheckpoint. localCheckpoint carries the plan's estimated
    #    `sizeInBytes` forward (LogicalRDD originStats); every round's
    #    joins MULTIPLY those BigInt estimates, so their digit count
    #    doubles per round and by round ~10 Catalyst's stats visitor is
    #    doing Toom-Cook multiplications on 10k-digit integers — the
    #    driver, not the data, becomes the bottleneck (measured: 3 s
    #    rounds degrading to 70+ s). A parquet round-trip resets stats
    #    to the true file size and truncates lineage for free. On a real
    #    cluster this is the HDFS-checkpoint pattern every iterative
    #    Spark algorithm needs anyway.
    # 2. The EDGE SET is contracted onto the label space each round, so
    #    the graph shrinks geometrically and late rounds run on a few
    #    thousand rows. Propagating labels over the original edges
    #    (the round-1/2 implementation) has a long convergence tail —
    #    plateaus merge a handful of labels per round on high-diameter
    #    graphs (measured: ~130 merges/round on a 916k-node component).
    # ------------------------------------------------------------------
    # Per-round driver actions are the fixed-latency floor of this loop
    # (tail rounds run on a few thousand rows but still pay full job
    # latency), so (a) every row count rides the spill write itself via
    # an Observation — zero extra jobs — and (b) once the contracted
    # edge set fits the driver threshold, a driver union-find finishes
    # the job in one collect instead of 3-6 more distributed rounds.
    spill_dir = _resolve_spill_dir(spark, checkpoint_dir)
    spill_seq = [0]

    def spill(df: DataFrame, obs: Observation | None = None):
        """Parquet round-trip (truncates lineage + resets stats). If an
        Observation is attached, its metric is computed by the write job
        and returned alongside — the write already knows its row count.
        The read-back carries the written frame's schema, so no job
        infers it from the footers.
        Spills compress with zstd (~3× smaller than the snappy default
        on the long-pair maps this loop writes): the 16-core job is
        bound on spill-disk bandwidth (PERF.md §22's tmpfs A/B), so
        trading compression CPU for bytes on exactly these writes is the
        single-box lever — and on a cluster it is network+disk saved."""
        p = f"{spill_dir}/s{spill_seq[0]}"
        spill_seq[0] += 1
        df.write.mode("overwrite").option("compression", _SPILL_CODEC).parquet(p)
        out = spark.read.schema(df.schema).parquet(p)
        if obs is None:
            return out
        return out, (obs.get["m"] or 0)

    def spill_count(df: DataFrame):
        obs = Observation()
        return spill(df.observe(obs, F.count(F.lit(1)).alias("m")), obs)

    def compress_map(m: DataFrame) -> DataFrame:
        """Path-compress an (_f → _t) map to its roots by doubling, with
        a SHRINKING frontier: a row whose target is not itself mapped
        already points at a root — it is final and leaves the loop (its
        pass's write is its last). Only still-live rows keep jumping, so
        per-pass write volume halves geometrically (Σ|live_p| ≈ 2|m|
        total instead of passes×|m|) and each pass is ONE join + ONE
        partitioned write; the build side stays the full current map
        (required for true doubling), assembled from the spilled parts.
        The live count rides the write via Observation. ``m`` must be a
        materialized (spilled) frame: handing it the raw groupBy-min
        plan recomputes that aggregate on BOTH join sides — measured
        +42% wall at 10M edges (PERF.md §23)."""
        done_parts: list[DataFrame] = []
        for _ in range(32):
            build = m
            for part in done_parts:
                build = build.unionByName(part)
            d2 = build.select(F.col("_f").alias("_f2"), F.col("_t").alias("_t2"))
            obs = Observation()
            nxt = (
                m.join(d2, m["_t"] == d2["_f2"], "left")
                .select(
                    "_f",
                    F.coalesce("_t2", "_t").alias("_t"),
                    # int, not boolean: partition-value inference on read
                    # has no boolean type (it would come back as string)
                    F.col("_t2").isNotNull().cast("int").alias("_live"),
                )
                .observe(obs, F.sum(F.col("_live")).alias("m"))
            )
            p = f"{spill_dir}/s{spill_seq[0]}"
            spill_seq[0] += 1
            nxt.write.mode("overwrite").partitionBy("_live").option(
                "compression", _SPILL_CODEC
            ).parquet(p)
            still = obs.get["m"] or 0
            full = spark.read.schema(nxt.schema).parquet(p)
            done_parts.append(full.filter(F.col("_live") == 0).drop("_live"))
            m = full.filter(F.col("_live") == 1).drop("_live")
            if still == 0:
                break
        # parts are disjoint spilled parquet scans — union, don't rewrite
        for part in done_parts:
            m = m.unionByName(part)
        return m

    try:
        # ------------------------------------------------------------------
        # Dictionary-encode string node ids to longs BEFORE the loop.
        # Round 1 carries ~90% of the wall time shuffling the symmetric
        # closure (PERF.md §17), and with string ids every one of those
        # rows ships a ~2×20-byte UTF8 key; encoding the ids against a
        # spilled (orig → long) dimension cuts shuffle bytes several-fold
        # on exactly the rounds that dominate.
        #
        # The encoding is ORDER-PRESERVING (range-partition the node
        # set, rank within partitions, add partition offsets), which
        # matters twice: (1) min-label semantics transfer exactly —
        # min(enc) of a component IS the encoding of min(orig), so the
        # decode is a plain dimension join with no per-component
        # re-minimum; (2) the merge CASCADE matches the original-order
        # cascade — real id spaces have locality (chains of adjacent
        # ids), and an order-randomizing encode (measured with
        # monotonically_increasing_id) halves round-1's merge rate and
        # adds two full rounds. Numeric inputs skip all of this —
        # they're already compact shuffle keys.
        # ------------------------------------------------------------------
        encode = id_type not in ("bigint", "int", "smallint", "tinyint")
        if encode:
            nparts = max(spark.sparkContext.defaultParallelism, 8)
            # spill freezes the range partitioner's sampled bounds — a
            # recompute could draw different bounds and shift every rank
            marked = spill(
                e.select(F.col("a").alias("orig"))
                .union(e.select("b"))
                .distinct()
                .repartitionByRange(nparts, "orig")
                .select("orig", F.spark_partition_id().alias("_pid"))
            )
            counts = {
                r["_pid"]: r["n"]
                for r in marked.groupBy("_pid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            offs_rows, acc = [], 0
            for pid in sorted(counts):
                offs_rows.append((pid, acc))
                acc += counts[pid]
            offs = spark.createDataFrame(offs_rows or [(0, 0)], "_pid int, _off long")
            wenc = Window.partitionBy("_pid").orderBy("orig")
            dim = spill(
                marked.withColumn("_rn", F.row_number().over(wenc))
                .join(F.broadcast(offs), "_pid")
                .select(
                    "orig", (F.col("_off") + F.col("_rn") - 1).alias("enc")
                )
            )
            da = dim.select(F.col("orig").alias("_oa"), F.col("enc").alias("_ea"))
            db = dim.select(F.col("orig").alias("_ob"), F.col("enc").alias("_eb"))
            e_work = spill(
                e.join(da, e["a"] == da["_oa"])
                .join(db, e["b"] == db["_ob"])
                .select(F.col("_ea").alias("a"), F.col("_eb").alias("b"))
            )
            # nodes carries orig beside the encoded id, so the final
            # label join decodes the id side FOR FREE — only component
            # representatives need a dimension lookup afterwards
            nodes = dim.select(F.col("enc").alias("id"), "orig")
            loop_id_type = "bigint"
        else:
            # materialize the caller's plan once — the closure below and
            # round 1 would otherwise recompute an arbitrary upstream DAG
            e_work = spill(e)
            nodes = spill(
                e_work.select(F.col("a").alias("id")).union(e_work.select("b")).distinct()
            )
            loop_id_type = id_type
        # symmetric closure stays LAZY: a union of two projections of
        # the spilled edge file. Writing it out (the round-4 shape) paid
        # a 2|e|-row write — the single largest write of the whole loop
        # — purely to re-read the same bytes; scanning the edge file
        # twice per consuming job reads identical volume with zero extra
        # writes on the bound disk. Round 1's contraction spill puts the
        # edge set back on disk (deduped, contracted) for later rounds.
        e2 = e_work.union(
            e_work.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # Per-round merge maps, composed ONCE at the end. Domains are
        # disjoint across rounds (a label that merges away is rewritten
        # out of the edge set and never merges again — guaranteed by the
        # within-round compression below), so the union of the round
        # maps is a function whose chains are at most one link per
        # round; a single O(log rounds) doubling pass at the end
        # resolves them. This removes the full-node-table label rewrite
        # (the largest frame in the loop) from EVERY round.
        maps: list[DataFrame] = []

        for _ in range(max_iter):
            # each label-node merges into its smallest neighbor
            dmap, n_merge = spill_count(
                e2.groupBy("a")
                .agg(F.min("b").alias("m"))
                .filter(F.col("m") < F.col("a"))
                .select(F.col("a").alias("_f"), F.col("m").alias("_t"))
            )
            if n_merge == 0:
                break
            # path-compress the merge map to its roots (fixpoint): merge
            # cascades c→b→a must fully resolve BEFORE the edge rewrite,
            # both so no edge lands on a stale intermediate label AND so
            # merged-away labels never reappear in later rounds (the
            # domain-disjointness the end-of-loop composition relies on).
            dmap = compress_map(dmap)
            maps.append(dmap)
            # contract the edge set onto the new label space
            for c in ("a", "b"):
                e2 = (
                    e2.join(dmap, e2[c] == dmap["_f"], "left")
                    .withColumn(c, F.coalesce("_t", F.col(c)))
                    .drop("_f", "_t")
                )
            e2, n_e = spill_count(
                e2.filter(F.col("a") != F.col("b")).dropDuplicates()
            )
            if n_e == 0:
                break
            if n_e <= _DRIVER_EDGES:
                # hybrid finisher: the residual label graph fits on the
                # driver — one collect + union-find replaces the last few
                # rounds of fixed job latency; its map is just another
                # (already fully compressed) round map.
                cmap = _union_find_map(e2.collect())
                maps.append(
                    spark.createDataFrame(
                        list(cmap.items()), f"_f {loop_id_type}, _t {loop_id_type}"
                    )
                )
                break

        # Compose the round maps in REVERSE. Chains run strictly forward
        # in rounds (a round-r root can only die in a later round), so a
        # tail map T that already maps every later-dying label to its
        # FINAL root composes each earlier map with ONE left join — no
        # doubling. The size skew makes this cheap: round 1's map holds
        # almost all merged nodes, rounds 2+ operate on the contracted
        # label space and are tiny, so every join until the last probes a
        # small T, and the single big pass (round-1 map vs T) is a
        # broadcast-size build side. T is spilled every few steps to keep
        # the plan (and Catalyst's multiplying stats estimates) flat.
        if maps:
            tail = maps[-1]
            for step, m in enumerate(reversed(maps[:-1])):
                rewritten = m.join(tail, m["_t"] == tail["_f"], "left").select(
                    m["_f"], F.coalesce(tail["_t"], m["_t"]).alias("_t")
                )
                tail = rewritten.unionByName(tail)
                if step % 3 == 2:
                    tail = spill(tail)
            tail = spill(tail)
            labels = nodes.join(tail, nodes["id"] == tail["_f"], "left").select(
                *nodes.columns, F.coalesce("_t", F.col("id")).alias("canonical_id")
            )
        else:
            labels = nodes.withColumn("canonical_id", F.col("id"))
        if encode:
            # decode: order preservation makes min(enc) the encoding of
            # min(orig), so canonical decodes through the same dimension
            # — no per-component re-minimum; and since nodes carried
            # orig through the label join, the id side is already
            # decoded. Only the component REPRESENTATIVES need a lookup
            # (≤ components, usually tiny). cdim is read back from its
            # spill, so the planner sizes it from the spill's bytes and
            # broadcasts it under the byte threshold; above it, AQE's
            # skew-join split handles a giant component's repeated
            # canonical key.
            lab = spill(
                labels.select(
                    F.col("orig").alias("id"), F.col("canonical_id").alias("_ce")
                )
            )
            reps = lab.select("_ce").distinct()
            cdim = spill(
                dim.join(reps, dim["enc"] == reps["_ce"], "left_semi").select(
                    F.col("enc").alias("_ce2"), F.col("orig").alias("canonical_id")
                )
            )
            labels = lab.join(cdim, lab["_ce"] == cdim["_ce2"]).select(
                "id", "canonical_id"
            )
        else:
            labels = labels.select("id", "canonical_id")
        out = labels.localCheckpoint(eager=True)
    finally:
        _hadoop_rm(spark, spill_dir)
    return out


def update_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Incrementally maintain a ``connected_components`` mapping under
    edge ADDITIONS — the streaming form of entity consolidation (new
    same-as links arrive with each ontology drop; recomputing the full
    component structure per drop is the reference's per-MERGE idiom at
    its worst).

    Algorithm: rewrite the new edges through the existing (id →
    canonical) mapping, so each new edge connects two existing
    CANONICAL labels (or brand-new ids); run CC on that rewritten edge
    set — which is |new edges|-sized, not corpus-sized — then compose:
    an old row whose canonical was itself merged follows the delta
    mapping one hop (canonical labels map directly to their new root —
    no chains, because the delta mapping is itself fully resolved).
    New ids absent from the old mapping enter with their delta
    assignment. Equivalence with a from-scratch run holds exactly
    because components only ever GROW under additions (no retractions).

    Scale shape: two joins against the delta mapping plus the CC run on
    the rewritten new-edge graph. The delta covers only ids touched by
    new edges — but the new-edge BATCH itself is unbounded (a bulk
    ontology refresh or a backfill replay delivers a corpus-fraction
    edge set), so no join here carries a broadcast hint: AQE picks
    each strategy from measured bytes.
    """
    # NOTE join sides: the new-edge set is usually the small side, the
    # mapping is corpus-scale (on a real deployment the mapping table is
    # bucketed by id so these are co-located joins).
    e = new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    m_a = mapping.select(F.col("id").alias("_ia"), F.col("canonical_id").alias("_ca"))
    m_b = mapping.select(F.col("id").alias("_ib"), F.col("canonical_id").alias("_cb"))
    rewritten = (
        e.join(m_a, e["a"] == m_a["_ia"], "left")
        .join(m_b, e["b"] == m_b["_ib"], "left")
        .select(
            F.coalesce("_ca", "a").alias("id_a"),
            F.coalesce("_cb", "b").alias("id_b"),
        )
    )
    delta = connected_components(rewritten)
    d = delta.select(F.col("id").alias("_f"), F.col("canonical_id").alias("_t"))
    # old rows: follow the delta one hop (old canonicals are delta
    # DOMAIN members when touched; delta values are final roots)
    updated_old = (
        mapping.join(d, mapping["canonical_id"] == d["_f"], "left")
        .select("id", F.coalesce("_t", "canonical_id").alias("canonical_id"))
    )
    # delta rows for ids the old mapping has never seen
    new_rows = delta.join(
        mapping.select(F.col("id").alias("_oid")),
        delta["id"] == F.col("_oid"),
        "left_anti",
    ).select("id", "canonical_id")
    return updated_old.unionByName(new_rows)


def retract_components(
    mapping: DataFrame,
    edges: DataFrame,
    removed_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Incrementally maintain a ``connected_components`` mapping under
    edge RETRACTIONS — the deletion half of entity consolidation (an
    ontology drop withdraws a same-as assertion, a curation pass
    revokes a bad cross-reference; the reference's per-MERGE idiom has
    no answer short of a full rebuild, cf.
    src/BioOntologyKG/importers/go/import_go_obo.py:64-145).

    A deletion can SPLIT a component, which no one-hop label
    composition can express, so the algorithm is tombstone-and-
    recompute at COMPONENT granularity:

    1. affected components = the components owning any endpoint of a
       removed edge (a same-as edge always lies inside one component);
    2. their surviving edge set = the component-local slice of
       ``edges`` minus ``removed_edges``, matched as UNORDERED pairs
       (``least``/``greatest`` normalization), so orientation
       differences between the edge table and the retraction list
       cannot leak a withdrawn link past the filter. A listed pair is
       withdrawn entirely — every duplicate copy of it goes;
    3. re-run CC on that |affected-subgraph|-sized slice; members that
       lost their every edge stay in the mapping as singletons (their
       own canonical) — an entity does not vanish because its links
       were withdrawn;
    4. untouched components keep their rows verbatim.

    For a batch carrying both retractions and additions, retract
    first, then feed the additions to :func:`update_components`: the
    result equals from-scratch CC on ``(edges - removed) + added``
    (re-adding a just-removed pair included).

    Scale shape: the affected-component set is sized by the retraction
    batch, not the corpus. ``mapping`` meets it in ONE left join that
    flags each row, and the members and the untouched rows are two
    filters of that result; ``edges`` meets the members in one
    semi-join. No join carries a broadcast hint: AQE picks each
    strategy from measured bytes, so a pathological batch touching
    half the graph takes shuffle joins instead of a driver OOM. The CC
    re-run sees only the affected subgraph. On a real deployment
    mapping and edges are bucketed by id/canonical, making the
    big-side joins co-located.
    """

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        ).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
        )

    e, r = norm(edges), norm(removed_edges)
    # canonical labels of every component a removed edge touches; the
    # retraction batch bounds this set, not the corpus
    endpoints = (
        r.select(F.col("a").alias("id"))
        .unionByName(r.select(F.col("b").alias("id")))
        .distinct()
    )
    affected = (
        mapping.join(endpoints, "id", "left_semi")
        .select(F.col("canonical_id").alias("_hit"))
        .distinct()
    )
    # one left join flags every mapping row; the affected components'
    # full membership (nodes about to become singletons included) and
    # the untouched rows are filters of that one result
    flagged = mapping.join(
        affected, F.col("canonical_id") == F.col("_hit"), "left"
    ).select("id", "canonical_id", F.col("_hit").isNotNull().alias("_hit"))
    members = flagged.filter("_hit").select("id", "canonical_id")
    untouched = flagged.filter(~F.col("_hit")).select("id", "canonical_id")
    # an edge lies inside an affected component iff either endpoint
    # does (both always do — edges never cross components), so one
    # semi-join on `a` slices the corpus-scale edge table
    member_ids = members.select(F.col("id").alias("_aid"))
    surviving = e.join(member_ids, e["a"] == F.col("_aid"), "left_semi").join(
        r, ["a", "b"], "left_anti"
    )
    recomputed = connected_components(surviving, src="a", dst="b")
    singletons = (
        members.select("id")
        .join(recomputed.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("canonical_id"))
    )
    return untouched.unionByName(recomputed).unionByName(singletons)


def bounded_paths(
    edges: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded variable-length reachability (J12): all (src, dst) pairs
    connected by a directed path of 1..max_hops edges, with the minimum
    hop count — the reference's ``(:Hpo)<-[:SUBCLASSOF*1..3]-``
    (``import_hpo.cql:271-273``) as an iterated self-join.

    Each hop is one equi-join shuffle on the frontier's endpoint; the
    frontier is deduped per round so diamond-shaped DAGs don't multiply
    paths (only pair existence matters, not path count). max_hops is a
    small constant, so the plan is max_hops-1 joins — no driver loop
    over data, no unbounded iteration.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    paths = e.withColumn("depth", F.lit(1))
    frontier = e
    for d in range(2, max_hops + 1):
        nxt = e.select(F.col("src").alias("_mid"), F.col("dst").alias("_dst"))
        frontier = (
            frontier.join(nxt, frontier["dst"] == nxt["_mid"])
            .select("src", F.col("_dst").alias("dst"))
            .distinct()
        )
        paths = paths.unionByName(frontier.withColumn("depth", F.lit(d)))
    return paths.groupBy("src", "dst").agg(F.min("depth").alias("min_depth"))

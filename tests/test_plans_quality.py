"""Physical-plan regression guards: the properties PERF.md claims are
asserted here so a refactor cannot silently lose them.

Uses the sf0.001 testdata (tiny, read-only)."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    """Executed-plan string with InMemoryRelation cached-plan subtrees
    removed. A persisted frame renders its cached plan inline TWICE
    (the serialized cached plan and the original plan that built it),
    double-counting join/exchange nodes that at runtime execute once
    behind an InMemoryTableScan — the guards here are about the live
    plan, not the cache-population plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    out, skip_depth = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_depth = depth
    return "\n".join(out)


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


def test_pricing_summary_pushdown(spark, entrymod):
    """Filter and column pruning must reach the parquet scan."""
    df = entrymod.queries()["pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # projection pruning: the scan must not read all 16 lineitem columns
    # (the plan string truncates ReadSchema, so check the leading fields)
    read = plan.split("ReadSchema")[1][:400]
    assert read.startswith(": struct<l_quantity")
    assert "l_comment" not in read and "l_orderkey" not in read


def test_region_revenue_broadcasts_dims(spark, entrymod):
    plan = _plan(entrymod.queries()["region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_prefix_match_join_is_hash_join(spark, entrymod):
    """J3 must be a broadcast hash join on the derived key, not a
    nested-loop theta join."""
    plan = _plan(entrymod.queries()["prefix_match_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_neardup_no_cartesian(spark, entrymod):
    plan = _plan(entrymod.queries()["embedding_neardup"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_no_shuffle(spark, entrymod):
    """The SimHash kernel must stay a narrow map: no hash shuffle of
    any keyed data. The single permitted exchange is the round-robin
    repartition that spreads the single-split parquet scan across
    cores (a testdata artifact; at scale the input arrives pre-split)."""
    plan = _plan(entrymod.queries()["simhash"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1


def test_range_join_no_bare_user_self_join(spark, entrymod):
    """The banded range join must join on (user_id, bkt), visible as a
    hash/sort-merge join whose key set includes the bucket column."""
    plan = _plan(entrymod.queries()["range_join_pairs"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bkt" in plan


def test_topk_uses_window_group_limit(spark, entrymod):
    plan = _plan(entrymod.queries()["topk_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_stratified_sample_is_narrow_scan(spark, entrymod):
    """The md5-threshold sample must be a pure filter over the scan —
    no Exchange, no join; and the scan must prune to the 2 projected
    columns (the hash is computed from doc_id alone)."""
    plan = _plan(entrymod.queries()["stratified_sample"](spark, SF))
    assert "Exchange" not in plan and "Join" not in plan
    read = plan.split("ReadSchema")[1][:200]
    assert "text" not in read  # text is never read for sampling


def test_pack_sequences_single_window_exchange(spark, entrymod):
    """Packing is ONE hash exchange (the per-stream window) — the
    running sum must not add extra shuffles."""
    plan = _plan(entrymod.queries()["pack_sequences"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_dedup_cluster_assign_rewrites_ids_without_join(spark, entrymod):
    """Under the CC driver threshold the cluster assignment rewrites the
    corpus ids through the driver mapping in one narrow Arrow stage: no
    join of any kind (so never a cartesian) and no cached frame."""
    plan = _plan(entrymod.queries()["dedup_cluster_assign"](spark, SF))
    assert "MapInArrow" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryRelation" not in plan


def test_doc_parse_prunes_json_fields(spark, entrymod):
    """doc_parse_fields extracts 3 of 5 record fields; Catalyst's
    OptimizeJsonExprs + pruning keeps authors/mesh out of the parse."""
    plan = _plan(entrymod.queries()["doc_parse_fields"](spark, SF))
    assert "from_json" in plan
    # each from_json call is pruned to the single field it feeds —
    # the authors/mesh arrays are never parsed ("authors" still appears
    # in the plan inside the synth side's to_json, which is expected)
    assert "from_json(StructField(authors" not in plan
    assert "from_json(StructField(mesh" not in plan
    assert "from_json(StructField(pmid" in plan


def test_quality_gate_zero_shuffle(spark, entrymod):
    """The gate itself is a pure narrow scan — no hash shuffle of any
    keyed data; the single permitted exchange is the query's
    round-robin scan-spread (testdata arrives as one split)."""
    plan = _plan(entrymod.queries()["quality_gate"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1


def test_repetition_stats_no_window_two_shuffles(spark, entrymod):
    """Top-n-gram selection is fully IN-ROW (sorted-array run-length
    fold) — never a per-doc window sort and never a hash shuffle of
    (doc, gram) rows; the only permitted exchange is the single
    round-robin repartition that spreads the single-split parquet scan
    across cores."""
    plan = _plan(entrymod.queries()["repetition_stats"](spark, SF))
    assert "Window" not in plan
    # Spark renders shuffle nodes as "Exchange hashpartitioning(...)" —
    # counting "ShuffleExchange" would always be 0 and make this vacuous
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange") <= 1  # the scan-spreading round-robin only


def test_lm_quality_score_join_strategies(spark, entrymod):
    """The only nested-loop is the deliberate 1-row total broadcast;
    the vocab log-prob join must be a broadcast hash join at this
    scale (AQE's byte threshold, no hint), and nothing may sort-merge or go cartesian."""
    plan = _plan(entrymod.queries()["lm_quality_score"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_data_prep_pipeline_composition_plan(spark, entrymod):
    """gate->mix->pack as one plan: broadcast joins only (keep-ids,
    mix rates), exactly one window (the per-stream pack prefix sum),
    no cartesian anywhere."""
    plan = _plan(entrymod.queries()["data_prep_pipeline"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") == 1


def test_data_prep_pipeline_dedup_plan(spark, entrymod):
    """gate->dedup->mix->pack as one plan: the dedup stage is a joinless
    min_by aggregate on the fingerprint key (no second window, no
    re-join), mix rates broadcast, exactly one window (the pack prefix
    sum), no cartesian/sort-merge anywhere."""
    plan = _plan(entrymod.queries()["data_prep_pipeline_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") == 1
    assert "min_by" in plan or "minBy" in plan  # the joinless keep-rep


def test_bigram_lm_score_join_strategies(spark, entrymod):
    """The bigram/unigram fit tables must hash-broadcast under AQE's
    byte threshold at this scale; the only nested-loop is the deliberate 1-row
    total broadcast."""
    plan = _plan(entrymod.queries()["bigram_lm_score"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_trigram_lm_score_join_strategies(spark, entrymod):
    """The pruned-trigram/bigram/unigram fit tables must hash-broadcast
    under AQE's byte threshold at this scale; the only nested-loop is
    the deliberate 1-row total broadcast. (Above the threshold the
    trigram table — the web-scale one — takes a shuffle join; no hint
    forces a broadcast.)"""
    plan = _plan(entrymod.queries()["trigram_lm_score"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_trigram_prune_stats_two_aggregates(spark, entrymod):
    """Prune stats is explode -> trigram count -> 1-row rollup: two
    aggregate levels, map-side partial, no window, no join."""
    plan = _plan(entrymod.queries()["trigram_prune_stats"](spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan


def test_tfidf_topk_plan(spark, entrymod):
    """TF-IDF: the df table broadcasts under AQE's byte threshold, the
    rank<=k filter compiles to a WindowGroupLimit (partitions keep at
    most k rows per doc before the window shuffle), and nothing
    sort-merges."""
    plan = _plan(entrymod.queries()["tfidf_top_terms"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_chunk_documents_zero_shuffle(spark, entrymod):
    """Chunking is tokenize -> indexed transform -> explode: one
    narrow scan, no exchange of any kind."""
    plan = _plan(entrymod.queries()["chunk_documents"](spark, SF))
    assert "Exchange" not in plan


def test_dedup_delta_plan(spark, entrymod):
    """Delta dedup must stay a pure join/aggregate plan: no cartesian
    product anywhere, and no forced broadcast of the store (at this
    scale AQE may choose broadcasts on its own — the guard is that
    nothing multiplies rows without a key)."""
    plan = _plan(entrymod.queries()["dedup_delta"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_curriculum_sample_no_global_sort(spark, entrymod):
    """Curriculum bucketing must come from the 1-row percentile
    aggregate broadcast back — NOT a global ntile window, which would
    single-partition the corpus. No Window, no rate limit on rows."""
    plan = _plan(entrymod.queries()["quality_curriculum_sample"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_top_terms",
        "lm_quality_score",
        "bigram_lm_score",
        "trigram_lm_score",
        "source_mix",
        "data_prep_pipeline",
    ],
)
def test_join_queries_build_without_jobs(spark, entrymod, name):
    """Building these queries starts no Spark job and persists nothing:
    no join side is counted or cached to choose its strategy while the
    frame is built. AQE picks each join strategy from measured bytes
    when the query runs."""
    from perfbench.trace import StatusReader

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    status = StatusReader(spark)
    entrymod.queries()[name](spark, SF)
    assert status.read()[0] == 0
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before

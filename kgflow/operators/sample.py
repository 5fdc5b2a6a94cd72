"""Corpus sampling and sequence packing for training-data pipelines.

The reference's data-mining scripts subset their inputs imperatively
(driver-side batch loops with LIMIT,
``neo4j_pubmed_batch_embeddings_processor.py:495-506``); a training-data
pipeline needs the declarative, scale-safe forms:

* **deterministic hash sampling** — membership decided by a pure
  function of (salt, id), so the sample is reproducible across runs,
  engines and cluster sizes, composes with resume (a re-run keeps the
  same sample), and needs no RNG state. md5 is the hash family so a
  DuckDB oracle reproduces every decision bit-for-bit.
* **stratified rates** — a per-stratum rate map (e.g. up-sample books,
  down-sample web) applied in the same single narrow scan.
* **sequence packing** — the standard pretraining pack: within each
  stream, documents in a deterministic order are concatenated and cut
  into fixed token budgets; the bin id is a running-sum window, one
  shuffle per stream shard.

Everything here is built-in-function only — narrow maps plus one window
shuffle for packing; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# 8 md5 hex chars = 32 bits of uniform hash — rate granularity 2^-32
_HASH_SPACE = 1 << 32


def _hash32(id_col: Column | str, salt: str) -> Column:
    """First 32 bits of md5(salt|id) as a long — the ONE hash behind
    every sampling decision here, shared so uniform and stratified
    sampling can never desynchronize."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), c.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def hash_keep(id_col: Column | str, rate: float, salt: str = "kgflow") -> Column:
    """Boolean sampling predicate: keep iff the first 32 bits of
    md5(salt|id) fall below rate·2³². Pure, portable, uniform."""
    return _hash32(id_col, salt) < F.lit(int(rate * _HASH_SPACE))


def hash_sample(
    docs: DataFrame, rate: float, id_col: str = "doc_id", salt: str = "kgflow"
) -> DataFrame:
    """Uniform deterministic sample: one narrow filter, no shuffle."""
    return docs.filter(hash_keep(id_col, rate, salt))


def stratified_hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    strat_col: str = "source",
    salt: str = "kgflow",
) -> DataFrame:
    """Per-stratum deterministic sampling (training-mix construction):
    ``rates`` maps stratum value → keep fraction; unlisted strata keep
    ``default_rate``. Same single narrow scan as the uniform form — the
    stratum only selects which threshold the row's hash is compared to,
    so skewed strata cost nothing extra."""
    h = _hash32(id_col, salt)
    thr: Column = F.lit(int(default_rate * _HASH_SPACE))
    for k, v in sorted(rates.items()):
        thr = F.when(F.col(strat_col) == k, F.lit(int(v * _HASH_SPACE))).otherwise(thr)
    return docs.filter(h < thr)


def stratified_sample_exact_n(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    strat_col: str = "source",
    salt: str = "kgflow",
) -> DataFrame:
    """EXACTLY min(n, |stratum|) rows per stratum — the fixed-budget
    complement of the rate-based sampler: keep each stratum's n
    smallest hash values (deterministic 'random' order, tie-broken by
    id). One window shuffle; the same hash family as ``hash_keep``, so
    an exact-N sample at growing n is a superset chain, and exact-N and
    rate samples of the same stratum agree on their overlap."""
    w = Window.partitionBy(strat_col).orderBy(_hash32(id_col, salt), id_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_cols: list[str] | None = None,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Assign each document to a fixed-token-budget pack (context
    window): within each stream (``stream_cols``, default ["source"]),
    documents in deterministic ``id_col`` order are virtually
    concatenated and cut every ``budget`` tokens — ``bin_id`` =
    exclusive-prefix-sum(tokens) ÷ budget, the standard sequential
    packing rule of pretraining loaders. Returns the input keys plus
    (n_tokens, bin_id, bin_offset), where bin_offset is the document's
    token start inside its bin.

    Scale shape: ONE window shuffle per stream. Streams are the
    parallelism unit — at 100 TB pass an additional hash-shard column
    in ``stream_cols`` (e.g. pmod(xxhash64(id), K)) so no single
    stream serializes the sort; packs then interleave shards, which is
    exactly what a shuffled training loader wants.

    ``n_tokens_col``: use a precomputed token-count column instead of
    whitespace-counting ``text_col`` (e.g. real tokenizer counts from
    the doc-stats table).
    """
    from ..functions import text as tx

    streams = stream_cols or ["source"]
    if n_tokens_col is None:
        d = docs.select(
            *streams, F.col(id_col), tx.token_count(text_col).alias("n_tokens")
        )
    else:
        d = docs.select(
            *streams, F.col(id_col), F.col(n_tokens_col).alias("n_tokens")
        )
    w = (
        Window.partitionBy(*streams)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        *streams,
        id_col,
        "n_tokens",
        F.floor(cum / budget).cast("long").alias("bin_id"),
        (cum % budget).cast("long").alias("bin_offset"),
    )


def source_mix_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strat_col: str = "source",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """The domain-mixing plan of a pretraining run: given per-source
    mixture ``weights`` and a total ``token_budget``, measure each
    source's available tokens and derive its deterministic keep rate.

    target_tokens(s) = budget · weights[s] / Σweights;
    rate(s) = min(1, target / available). A rate pinned at 1 is an
    UNDER-SUPPLIED source — the corpus cannot fill its slice of the
    mixture, visible here rather than silently absorbed (the repo's
    no-silent-caps rule). Sources absent from ``weights`` get rate 0:
    excluded from the mix by construction, and visibly so in the plan.

    Returns (``strat_col``, n_tokens_total, target_tokens, rate) —
    one row per source present in the corpus. One map-side-combining
    aggregate over the corpus; everything downstream of it is
    dimension-sized.
    """
    from ..functions import text as tx

    tok = (
        F.col(n_tokens_col) if n_tokens_col is not None else tx.token_count(text_col)
    )
    totals = docs.groupBy(strat_col).agg(
        F.sum(tok).cast("long").alias("n_tokens_total")
    )
    # per-source targets are PYTHON floats folded into literals
    # (_mix_target), so a DuckDB oracle reproduces the IEEE arithmetic
    # bit-for-bit
    tgt = _mix_target(weights, token_budget, strat_col)
    return totals.select(
        strat_col,
        "n_tokens_total",
        F.round(tgt, 2).alias("target_tokens"),
        F.round(
            F.least(F.lit(1.0), tgt / F.col("n_tokens_total")), 6
        ).alias("rate"),
    )


def source_mix_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    id_col: str = "doc_id",
    strat_col: str = "source",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    salt: str = "kgflow",
    stats: DataFrame | None = None,
    stats_tokens_col: str = "n_tokens",
) -> DataFrame:
    """Sample the corpus to the ``source_mix_plan`` mixture: each
    source keeps the deterministic ``hash_keep`` fraction that lands
    its EXPECTED token volume on budget · weight / Σweights. Membership
    is the same md5(salt|id) threshold as every sampler here, so the
    mix composes with uniform/stratified/exact-N samples (supersets
    and overlaps agree) and is reproducible across engines, runs and
    cluster sizes.

    Scale shape: the plan aggregate plus one broadcast join of the
    per-source rate table and a narrow filter. The table is filtered to
    ``weights``' keys (a source outside them has threshold 0, so none
    of its rows survive), so the caller's dict bounds the broadcast,
    not the corpus. Without
    ``stats`` the corpus is scanned twice (measure, then filter);
    passing the maintained per-document stats table (``stats``,
    ``stats_tokens_col`` — e.g. ``streaming.read_doc_stats``'s output,
    whose ``n_tokens`` is the same token_count the text path computes)
    moves the MEASURE pass onto that table — a narrow scan of
    (source, n_tokens) with the text column never read — leaving the
    filter as the only corpus scan. Membership is identical either way:
    the hash is a function of the id alone, and the thresholds agree
    whenever the stats table is current.
    """
    from ..functions import text as tx

    plan = source_mix_plan(
        docs if stats is None else stats,
        weights,
        token_budget,
        strat_col,
        text_col,
        n_tokens_col if stats is None else stats_tokens_col,
    ).filter(F.col(strat_col).isin(sorted(weights))).select(
        strat_col,
        # un-rounded threshold: recompute from the exact rate
        F.floor(
            F.least(
                F.lit(1.0),
                _mix_target(weights, token_budget, strat_col)
                / F.col("n_tokens_total"),
            )
            * F.lit(float(_HASH_SPACE))
        )
        .cast("long")
        .alias("_thr"),
    )
    tok = (
        F.col(n_tokens_col) if n_tokens_col is not None else tx.token_count(text_col)
    )
    return (
        docs.withColumn("n_tokens", tok.cast("long"))
        .join(F.broadcast(plan), strat_col)
        .filter(_hash32(id_col, salt) < F.col("_thr"))
        .drop("_thr")
    )


def _mix_target(
    weights: dict[str, float], token_budget: int, strat_col: str
) -> Column:
    """budget · weight / Σweights as a literal-folded when-chain (0.0
    for unlisted sources), shared by plan and sampler so the two can
    never disagree on a target."""
    wsum = float(sum(weights.values()))
    tgt: Column = F.lit(0.0)
    for k, v in sorted(weights.items()):
        tgt = F.when(
            F.col(strat_col) == k, F.lit(token_budget * v / wsum)
        ).otherwise(tgt)
    return tgt


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token training windows — the other
    half of sequence prep next to :func:`pack_sequences` (packing
    merges short docs up to the budget; chunking cuts long docs down
    to it). ``stride < chunk_tokens`` yields overlapping sliding
    windows (the standard LM eval / retrieval-indexing shape);
    ``stride = chunk_tokens`` (the default) tiles the document.

    Entirely in-row: tokenize once, build chunk structs with one
    indexed ``transform`` over the stride-spaced start positions
    (``F.sequence`` with step), one explode — zero shuffle, zero UDF,
    the same narrow plan at any corpus size. The trailing chunk keeps
    its natural shorter length (``n_chunk_tokens`` reports it;
    filter on it downstream to drop stubs). Chunks inherit their
    provenance via (id_col, chunk_idx) — stable, resumable keys.
    """
    c = int(chunk_tokens)
    s = int(stride) if stride is not None else c
    if c < 1 or s < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    from ..functions import text as tx

    base = docs.select(F.col(id_col), tx.tokens(text_col).alias("_t"))
    starts = F.sequence(F.lit(0), F.size("_t") - 1, F.lit(s))
    chunks = F.transform(
        starts,
        lambda st, i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(F.slice(F.col("_t"), st + 1, c), " ").alias(
                "chunk_text"
            ),
            F.least(F.size("_t") - st, F.lit(c))
            .cast("long")
            .alias("n_chunk_tokens"),
        ),
    )
    return base.select(F.col(id_col), F.explode(chunks).alias("ch")).select(
        id_col,
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )

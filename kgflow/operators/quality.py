"""Repetition-based quality metrics for training-data filtering.

Gopher-style repetition signals (Rae et al. 2021, §A1.1): documents
dominated by a few repeated n-grams or repeated tokens are boilerplate/
spam and poison language-model training. The reference filters its
corpus by length caps only (``entrez_gene_embedding.py:10``); these
metrics are the corpus-hygiene extension a pretraining pipeline needs.

Scale shape: ``repetition_stats`` is two map-side-combining aggregates
— (doc, ngram) counts, then a per-doc max — so the shuffle carries one
row per DISTINCT (doc, ngram), never the raw token stream, and no
window sort is involved. The in-row signals (``dup_token_fraction``)
ride along for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as tx
from .util import spread


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition profile:

    * ``dup_token_frac`` — fraction of token occurrences repeating an
      earlier token (in-row, zero shuffle);
    * ``top_ngram`` / ``top_ngram_count`` — the document's most
      frequent word n-gram (ties broken toward the lexicographically
      LARGEST gram, deterministically — mirrored by the oracle's
      ``ORDER BY c DESC, ng DESC``);
    * ``top_ngram_frac`` — fraction of the document's tokens covered
      by occurrences of that gram (``count·n / n_tokens``, capped at
      1 since overlapping occurrences can double-count tokens).

    Filter on these downstream (e.g. drop ``top_ngram_frac > 0.2``,
    the Gopher bigram threshold). Documents with fewer than ``n``
    tokens are excluded — they have no n-gram to profile.

    Plan: the per-document most-frequent n-gram needs no shuffle at
    all — a document's n-grams fit in its own row. Sort the gram array
    and run-length scan it with one ``F.aggregate`` fold, updating a
    (best_count, best_gram) accumulator; struct comparison on
    (count, gram) reproduces the old two-aggregate ``max(struct(c,
    ng))`` tie-break (largest gram among equal counts) exactly. The
    earlier explode → groupBy(doc, gram) → groupBy(doc) formulation
    shuffled one row per (doc, gram) occurrence class twice (~42 s at
    sf1.0); this is a narrow map over the spread scan (``util.spread``;
    guide §2.4: remove shuffles outright; §2.2 input-split starvation).
    """
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    init = F.struct(
        zero.alias("bc"),
        F.lit("").alias("bg"),
        zero.alias("cc"),
        F.lit(None).cast("string").alias("cg"),
    )

    def merge(acc, x):
        new_cc = F.when(x == acc["cg"], acc["cc"] + one).otherwise(one)
        better = (new_cc > acc["bc"]) | (
            (new_cc == acc["bc"]) & (x >= acc["bg"])
        )
        return F.struct(
            F.when(better, new_cc).otherwise(acc["bc"]).alias("bc"),
            F.when(better, x).otherwise(acc["bg"]).alias("bg"),
            new_cc.alias("cc"),
            x.alias("cg"),
        )

    return (
        spread(docs.select(F.col(id_col), F.col(text_col).alias("_tx")))
        # explode(array(fold)) puts the fold inside a Generate node —
        # a CollapseProject barrier. A plain aliased column would be
        # inlined by the optimizer into every downstream reference
        # (filter + three field extracts), re-running the whole
        # run-length fold 4× per row (measured 7.5 s vs 2.4 s at sf1.0).
        .select(
            F.col(id_col),
            tx.token_count("_tx").cast("long").alias("n_tokens"),
            tx.dup_token_fraction("_tx").alias("dup_token_frac"),
            F.explode(
                F.array(
                    F.aggregate(
                        F.array_sort(tx.word_ngrams("_tx", n)), init, merge
                    )
                )
            ).alias("_m"),
        )
        .filter(F.col("_m")["bc"] > 0)
        .select(
            id_col,
            "n_tokens",
            "dup_token_frac",
            F.col("_m")["bg"].alias("top_ngram"),
            F.col("_m")["bc"].alias("top_ngram_count"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("_m")["bc"] * n / F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("top_ngram_frac"),
        )
    )


#: default thresholds, Gopher-shaped (Rae et al. 2021, Table A1) but
#: tuned to this corpus's synthetic scale; override per call.
DEFAULT_RULES = {
    "min_tokens": 5,
    "max_tokens": 100_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "max_dup_token_frac": 0.9,
    "min_stopword_ratio": 0.01,
}


def quality_gate(
    docs: DataFrame,
    rules: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-pass document quality gate: every rule is evaluated for
    every document and the FAILED rule names are returned as a sorted
    array, so a drop is never silent — ``keep`` is just
    ``size(reasons) = 0``. Filtering and auditing are the same scan:
    ``.filter("keep")`` for the pipeline, ``groupBy(reasons)`` for the
    drop report.

    All signals are in-row column expressions (token counts, average
    token length, duplicate-token fraction, stopword ratio) — zero
    shuffle, whole-stage codegen, unchanged plan shape at any corpus
    size. Rules are literal-folded thresholds; unknown rule names
    raise rather than being ignored.
    """
    checks = _gate_checks(rules, text_col)
    reasons = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in checks
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return docs.select(
        F.col(id_col),
        reasons.alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


def _gate_checks(rules: dict | None, text_col: str) -> list:
    """(rule_name, failure_condition) pairs shared by
    :func:`quality_gate` and :func:`quality_keep`."""
    r = dict(DEFAULT_RULES)
    if rules:
        unknown = set(rules) - set(DEFAULT_RULES)
        if unknown:
            raise ValueError(f"unknown quality rules: {sorted(unknown)}")
        r.update(rules)

    n = tx.token_count(text_col).cast("long")
    avg_len = tx.avg_token_len(text_col)
    dup = tx.dup_token_fraction(text_col)
    sw = tx.stopword_ratio(text_col)

    return [
        ("min_tokens", n < int(r["min_tokens"])),
        ("max_tokens", n > int(r["max_tokens"])),
        ("min_avg_token_len", avg_len < float(r["min_avg_token_len"])),
        ("max_avg_token_len", avg_len > float(r["max_avg_token_len"])),
        ("max_dup_token_frac", dup > float(r["max_dup_token_frac"])),
        ("min_stopword_ratio", sw < float(r["min_stopword_ratio"])),
    ]


def quality_keep(rules: dict | None = None, text_col: str = "text"):
    """The gate's keep predicate as a single boolean Column — for
    pipelines that only need the survivors and not the reasons audit.
    ``docs.filter(quality_keep(rules))`` selects exactly the rows
    ``quality_gate(docs, rules).filter("keep")`` would keep (a rule
    whose condition is NULL — e.g. on null text — contributes no
    failure reason in the gate, so NULL counts as not-failed here
    too), without the gate → id-join round trip: the gate is a pure
    row function, so keep-filtering is a narrow in-scan predicate."""
    keep = F.lit(True)
    for _, cond in _gate_checks(rules, text_col):
        keep = keep & ~F.coalesce(cond, F.lit(False))
    return keep


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    floor_lp6: int = -10_000_000,
    fit_docs: DataFrame | None = None,
) -> DataFrame:
    """Statistical-LM quality score, KenLM-lite: fit unigram token
    log10-probabilities on the corpus itself (one map-side-combining
    aggregate), then score each document by its MEAN token log-prob.
    Gibberish / out-of-distribution documents score far below the
    corpus mode — the classic CCNet-style perplexity filter signal
    (Wenzek et al. 2020) with the n-gram model degenerated to n=1 so
    the whole fit stays one aggregate.

    Determinism across engines and partitionings: per-token log-probs
    are scaled to integers (round(lp·10⁶) as ``lp6``) BEFORE the
    per-doc sum, so the aggregate is an exact integer sum — no
    floating summation-order drift — and one final division yields
    the score. The model is fit on ``fit_docs`` when given (score a
    stream against a reference corpus), else on ``docs`` itself;
    tokens unseen at fit time take ``floor_lp6``.

    Returns (id_col, n_tokens, lm_score). Scale shape: one explode →
    vocab aggregate (vocab-sized result), a 1-row total broadcast, one
    join of the log-prob table (AQE broadcasts it under the byte
    threshold and shuffles it above), one per-doc aggregate.
    """
    toks = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tx.tokens(text_col)).alias("tok")
    )
    fit_toks = (
        toks
        if fit_docs is None
        else spread(fit_docs.select(F.col(text_col))).select(
            F.explode(tx.tokens(text_col)).alias("tok")
        )
    )
    freq = fit_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # 1-row total; broadcast so the log-prob table is one narrow pass
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(F.log10(F.col("c") / F.col("n")) * 1_000_000, 0)
        .cast("long")
        .alias("lp6"),
    )
    scored = toks.join(lp, "tok", "left")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.coalesce("lp6", F.lit(floor_lp6)))
                / (F.count(F.lit(1)) * 1_000_000.0),
                4,
            ).alias("lm_score"),
        )
    )


def _context_stream(
    d: DataFrame, text_col: str, id_col: str | None = None
) -> DataFrame:
    """Per-token (prev2, prev1, cur) stream, built in-row: tokenize
    once into a projected array column, then a single indexed
    ``transform`` reads the two predecessors via 0-based ``F.get``
    (NULL out-of-bounds — no conditional guards, no per-element
    re-tokenize), and one explode yields the stream. Zero shuffle;
    the array never outlives the projection."""
    cols = [F.col(id_col)] if id_col else []
    # spread BEFORE the CPU-heavy tokenize + indexed-transform
    # projection (raw text crosses an exchange once)
    base = spread(d.select(*cols, F.col(text_col))).select(*cols, tx.tokens(text_col).alias("_t"))
    trips = F.transform(
        F.col("_t"),
        lambda x, i: F.struct(
            F.get(F.col("_t"), i - 2).alias("prev2"),
            F.get(F.col("_t"), i - 1).alias("prev1"),
            x.alias("cur"),
        ),
    )
    return base.select(
        *([id_col] if id_col else []), F.explode(trips).alias("p")
    ).select(
        *([id_col] if id_col else []),
        F.col("p.prev2").alias("prev2"),
        F.col("p.prev1").alias("prev1"),
        F.col("p.cur").alias("cur"),
    )


def trigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_alpha: float = 0.4,
    prune_min_count: int = 2,
    fit_docs: DataFrame | None = None,
) -> DataFrame:
    """Trigram LM quality score with stupid backoff and a PRUNED
    trigram table — the KenLM-style shape (Heafield 2011 prunes
    singleton n-grams for exactly this reason): at web scale the
    trigram type count grows near-linearly with the corpus while
    bigram/unigram tables saturate, so the trigram table is the one
    that can neither broadcast nor fit a reasonable shuffle side.
    Dropping types with fit count < ``prune_min_count`` removes the
    long tail (typically most TYPES but a small count MASS — measure
    with :func:`trigram_prune_stats`); a pruned-away trigram simply
    takes the backoff path, which is the stupid-backoff contract.

    Chain: P(w|p2,p1) = c3(p2,p1,w)/c2(p2,p1) when the pruned table
    has the trigram; else ``alpha``·c2(p1,w)/c1(p1) when the bigram
    was seen; else ``alpha``²·c1(w)/N. Positions 1 and 2 score by the
    unigram / backed-off-bigram models. Unseen-even-at-unigram tokens
    take count 0.5 (same floor as :func:`bigram_logprob_score`).

    Exactness: per-position log10-probs scale to integers
    (round(lp·10⁶)) before the per-doc sum — partition-order exact,
    engine-portable. Fit on ``fit_docs`` when given (fit-on-sample /
    score-full-corpus is the intended use — it exercises every
    branch live), else on ``docs``.

    Scale shape: three fit aggregates (all map-side partial; the
    trigram one is pruned BEFORE it is joined), then the token stream
    left-joins five dimension tables — AQE picks each strategy from
    measured bytes (broadcast under the threshold, shuffle above; the
    web-scale trigram table takes the shuffle, and pruning is what
    keeps that shuffle side proportional to the HEAD of the
    distribution) — plus a 1-row total broadcast, and one per-doc
    aggregate."""
    fit = _context_stream(
        fit_docs if fit_docs is not None else docs, text_col
    )
    uni = fit.groupBy(F.col("cur").alias("tok")).agg(
        F.count(F.lit(1)).alias("cu")
    )
    tot = uni.agg(F.sum("cu").cast("double").alias("n"))
    big = (
        fit.filter(F.col("prev1").isNotNull())
        .groupBy("prev1", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    tri = (
        fit.filter(F.col("prev2").isNotNull())
        .groupBy("prev2", "prev1", "cur")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    if prune_min_count > 1:
        tri = tri.filter(F.col("ct") >= int(prune_min_count))

    stream = _context_stream(docs, text_col, id_col=id_col)
    big_ctx = big.select(
        F.col("prev1").alias("prev2"),
        F.col("cur").alias("prev1"),
        F.col("cb").alias("cb_ctx"),
    )
    uni_prev = uni.select(F.col("tok").alias("prev1"), F.col("cu").alias("cu_prev"))
    uni_cur = uni.select(F.col("tok").alias("cur"), F.col("cu").alias("cu_cur"))
    scored = (
        stream.join(tri, ["prev2", "prev1", "cur"], "left")
        .join(big, ["prev1", "cur"], "left")
        .join(big_ctx, ["prev2", "prev1"], "left")
        .join(uni_prev, "prev1", "left")
        .join(uni_cur, "cur", "left")
        .crossJoin(F.broadcast(tot))  # 1 row
    )
    a = float(backoff_alpha)
    cu_eff = F.coalesce(F.col("cu_cur").cast("double"), F.lit(0.5))
    lp = (
        F.when(F.col("prev1").isNull(), F.log10(cu_eff / F.col("n")))
        .when(
            F.col("prev2").isNull(),
            F.when(
                F.col("cb").isNotNull(),
                F.log10(F.col("cb") / F.col("cu_prev").cast("double")),
            ).otherwise(F.log10(F.lit(a) * cu_eff / F.col("n"))),
        )
        .when(
            F.col("ct").isNotNull(),
            F.log10(F.col("ct") / F.col("cb_ctx").cast("double")),
        )
        .when(
            F.col("cb").isNotNull(),
            F.log10(F.lit(a) * F.col("cb") / F.col("cu_prev").cast("double")),
        )
        .otherwise(F.log10(F.lit(a) * F.lit(a) * cu_eff / F.col("n")))
    )
    lp6 = F.round(lp * 1_000_000, 0).cast("long")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum(lp6) / (F.count(F.lit(1)) * 1_000_000.0), 4).alias(
            "trigram_lm_score"
        ),
    )


def trigram_prune_stats(
    docs: DataFrame,
    text_col: str = "text",
    prune_min_count: int = 2,
) -> DataFrame:
    """Observability for :func:`trigram_logprob_score`'s prune: one
    row of (kept_types, dropped_types, kept_mass, dropped_mass) over
    the fit corpus's trigram table at the given threshold — the same
    no-silent-caps contract as ``lsh_cap_stats``. On a natural
    corpus expect dropped_types ≫ kept_types (the Zipf tail) while
    dropped_mass stays a small fraction: that asymmetry is the whole
    case for pruning, and this query is how you check it holds on
    YOUR corpus before trusting the pruned scorer. Two map-side-
    combining aggregates; the result is a single row."""
    m = int(prune_min_count)
    tri = (
        _context_stream(docs, text_col)
        .filter(F.col("prev2").isNotNull())
        .groupBy("prev2", "prev1", "cur")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    kept = F.col("ct") >= m
    return tri.agg(
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_types"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("dropped_types"),
        F.sum(F.when(kept, F.col("ct")).otherwise(0)).cast("long").alias("kept_mass"),
        F.sum(F.when(~kept, F.col("ct")).otherwise(0)).cast("long").alias("dropped_mass"),
    )


def bigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff_alpha: float = 0.4,
    fit_docs: DataFrame | None = None,
) -> DataFrame:
    """Bigram LM quality score with stupid backoff (Brants et al.
    2007): P(w|prev) = c(prev,w)/c(prev) when the bigram was seen at
    fit time, else ``backoff_alpha``·c(w)/N from the unigram table —
    the actual shape of a CCNet-style perplexity filter, one n up
    from ``unigram_logprob_score``. A document's score is the mean
    log10 probability of its tokens (the first token scored by the
    unigram model).

    Fit on ``fit_docs`` when given, else on ``docs`` itself. Fitting
    on a SAMPLE and scoring the full corpus is the intended use: the
    backoff branch then fires on every bigram the sample missed, and
    the fit tables stay a bounded fraction of the corpus vocabulary.

    Exactness: per-position log-probs are scaled to integers
    (round(lp·10⁶)) before the per-doc sum — exact integer
    aggregation, partition-order independent, engine-portable.

    Scale shape: two fit aggregates (unigram vocab-sized, bigram
    seen-pair-sized), a 1-row total broadcast, then the token stream
    joined to both tables, and one per-doc aggregate. The bigram table
    of a web corpus exceeds any broadcast, so no join is hinted: AQE
    broadcasts a table under the byte threshold and shuffles it above.
    """
    def pair_stream(d: DataFrame, with_id: bool) -> DataFrame:
        t = tx.tokens(text_col)
        prevs = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(t, 1, F.size(t) - 1),
        )
        cols = [F.col(id_col)] if with_id else []
        # spread before the tokenize/zip/explode
        d = spread(d.select(*cols, F.col(text_col)))
        return d.select(*cols, F.explode(F.arrays_zip(prevs, t)).alias("p")).select(
            *([id_col] if with_id else []),
            F.col("p")["0"].alias("prev"),
            F.col("p")["1"].alias("cur"),
        )

    fit = pair_stream(fit_docs if fit_docs is not None else docs, with_id=False)
    uni = fit.groupBy(F.col("cur").alias("tok")).agg(
        F.count(F.lit(1)).alias("cu")
    )
    tot = uni.agg(F.sum("cu").cast("double").alias("n"))
    big = (
        fit.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("cb"))
    )

    stream = pair_stream(docs, with_id=True)
    uni_prev = uni.select(F.col("tok").alias("prev"), F.col("cu").alias("cu_prev"))
    uni_cur = uni.select(F.col("tok").alias("cur"), F.col("cu").alias("cu_cur"))
    scored = (
        stream.join(big, ["prev", "cur"], "left")
        .join(uni_prev, "prev", "left")
        .join(uni_cur, "cur", "left")
        .crossJoin(F.broadcast(tot))  # 1 row
    )
    # unigram floor for tokens unseen even at unigram level: count 0.5
    cu_eff = F.coalesce(F.col("cu_cur").cast("double"), F.lit(0.5))
    lp = (
        F.when(F.col("prev").isNull(), F.log10(cu_eff / F.col("n")))
        .when(
            F.col("cb").isNotNull(),
            F.log10(F.col("cb") / F.col("cu_prev").cast("double")),
        )
        .otherwise(F.log10(F.lit(float(backoff_alpha)) * cu_eff / F.col("n")))
    )
    lp6 = F.round(lp * 1_000_000, 0).cast("long")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum(lp6) / (F.count(F.lit(1)) * 1_000_000.0), 4).alias(
            "bigram_lm_score"
        ),
    )

"""Document quality signals for training-data filtering.

Gopher-style repetition signals (Rae et al. 2021, §A1.1): documents
dominated by a few repeated n-grams or repeated tokens are boilerplate/
spam and poison language-model training. The reference filters its
corpus by length caps only (``entrez_gene_embedding.py:10``); these
metrics are the corpus-hygiene extension a pretraining pipeline needs.

Scale shape: ``repetition_stats`` is a narrow map after the scan's
round-robin spread (the per-doc top n-gram is a sorted-array fold
in-row), and ``quality_gate`` / ``quality_keep`` are in-row
predicates with no shuffle at all.

``ngram_logprob_score`` is the CCNet-style perplexity signal (Wenzek
et al. 2020) at any order n: one token-context stream builder, one
count builder for the fit tables and one stupid-backoff chain serve
the unigram, bigram and pruned trigram queries;
``trigram_prune_stats`` reads the same count builder's order-3 table.
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


#: stupid-backoff weight (Brants et al. 2007): a position that backs
#: off m orders scores α^m times the lower-order estimate
_BACKOFF_ALPHA = 0.4


def _gram_keys(k: int) -> list[str]:
    """Columns of a k-gram in the stream: prev{k-1}, …, prev1, cur."""
    return [f"prev{j}" for j in range(k - 1, 0, -1)] + ["cur"]


def _ngram_stream(
    d: DataFrame, n: int, text_col: str, id_col: str | None
) -> DataFrame:
    """Per-token (id_col?, prev{n-1}, …, prev1, cur) stream, built
    in-row: spread the raw text (it crosses the exchange once, before
    the CPU-heavy projection), tokenize once into an array column, then
    one indexed ``transform`` reads the predecessors by 0-based
    ``F.get`` (NULL before the document start — no guards, no
    re-tokenize) and one explode yields the stream."""
    cols = [F.col(id_col)] if id_col else []
    base = spread(d.select(*cols, F.col(text_col))).select(
        *cols, tx.tokens(text_col).alias("_t")
    )
    grams = F.transform(
        F.col("_t"),
        lambda x, i: F.struct(
            *[F.get(F.col("_t"), i - j).alias(f"prev{j}") for j in range(n - 1, 0, -1)],
            x.alias("cur"),
        ),
    )
    return base.select(*cols, F.explode(grams).alias("g")).select(*cols, "g.*")


def _ngram_counts(fit: DataFrame, n: int) -> list[DataFrame]:
    """Fit tables c1 … cn of an order-``n`` stream: table k counts each
    k-gram (``_gram_keys(k)``) in one map-side-combining aggregate,
    over the positions that have k-1 predecessors."""
    tables = []
    for k in range(1, n + 1):
        grams = fit if k == 1 else fit.filter(F.col(f"prev{k - 1}").isNotNull())
        tables.append(
            grams.groupBy(*_gram_keys(k)).agg(F.count(F.lit(1)).alias(f"c{k}"))
        )
    return tables


def ngram_logprob_score(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    prune_min_count: int = 1,
    fit_docs: DataFrame | None = None,
) -> DataFrame:
    """Order-``n`` LM quality score with stupid backoff (Brants et al.
    2007): fit n-gram counts, then score each document by the MEAN
    log10 probability of its tokens — the CCNet-style perplexity
    filter signal (Wenzek et al. 2020). Gibberish and out-of-
    distribution documents score far below the corpus mode.

    Chain: a position i (1-based) has k = min(n, i) orders. It scores
    c_k(gram)/c_{k-1}(context) when the order-k table has its k-gram,
    else α·c_{k-1}/c_{k-2} one order down, and so on to α^(k-1)·c1/N
    (α = ``_BACKOFF_ALPHA``, N the fit token count). A token unseen
    even at unigram level counts 0.5.

    ``prune_min_count`` > 1 drops the top-order types seen fewer times
    — the KenLM-style prune (Heafield 2011): at web scale the top-order
    type count grows near-linearly with the corpus while the lower
    tables saturate, and the Zipf tail is most of its types but little
    of its mass (measure with :func:`trigram_prune_stats`). A pruned
    gram takes the backoff path. The model is fit on ``fit_docs`` when
    given — fit on a sample, score the full corpus, so every backoff
    branch fires live — else on ``docs``.

    Exactness: per-position log-probs are scaled to integers
    (round(lp·10⁶)) before the per-doc sum — an exact integer sum,
    partition-order independent, engine-portable — and one division
    yields the score.

    Returns (id_col, n_tokens, lm_score). Scale shape: n fit aggregates
    (map-side partial; the pruned top table is filtered before it is
    joined), a 1-row total broadcast, the stream left-joined to the n
    gram tables and the n-1 context tables — no hint: AQE broadcasts a
    table under the byte threshold and shuffles it above, and pruning
    keeps the top table's shuffle side proportional to the head of the
    distribution — then one per-doc aggregate."""
    stream = _ngram_stream(docs, n, text_col, id_col)
    fit = (
        stream.drop(id_col)
        if fit_docs is None
        else _ngram_stream(fit_docs, n, text_col, None)
    )
    counts = _ngram_counts(fit, n)
    tot = counts[0].agg(F.sum("c1").cast("double").alias("n"))
    if prune_min_count > 1:
        counts[-1] = counts[-1].filter(F.col(f"c{n}") >= int(prune_min_count))

    scored = stream
    for k in range(n, 0, -1):
        scored = scored.join(counts[k - 1], _gram_keys(k), "left")
        if k > 1:
            # context count: table k-1 shifted one position back
            ctx_keys = _gram_keys(k)[:-1]
            ctx = counts[k - 2].select(
                *[F.col(c).alias(a) for c, a in zip(_gram_keys(k - 1), ctx_keys)],
                F.col(f"c{k - 1}").alias(f"ctx{k}"),
            )
            scored = scored.join(ctx, ctx_keys, "left")
    scored = scored.crossJoin(F.broadcast(tot))  # 1 row

    def prob(j: int, m: int):
        """log10 of the order-j estimate backed off m times (NULL when
        order j has no count)."""
        if j == 1:
            c = F.coalesce(F.col("c1").cast("double"), F.lit(0.5))
            ctx = F.col("n")
        else:
            c, ctx = F.col(f"c{j}"), F.col(f"ctx{j}")
        return F.log10((F.lit(_BACKOFF_ALPHA ** m) * c) / ctx.cast("double"))

    def backoff(k: int):
        return F.coalesce(*[prob(j, k - j) for j in range(k, 0, -1)])

    lp = backoff(n)
    for k in range(n - 1, 0, -1):
        lp = F.when(F.col(f"prev{k}").isNull(), backoff(k)).otherwise(lp)
    lp6 = F.round(lp * 1_000_000, 0).cast("long")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum(lp6) / (F.count(F.lit(1)) * 1_000_000.0), 4).alias(
            "lm_score"
        ),
    )


def trigram_prune_stats(
    docs: DataFrame,
    text_col: str = "text",
    prune_min_count: int = 2,
) -> DataFrame:
    """Observability for :func:`ngram_logprob_score`'s prune at n = 3:
    one row of (kept_types, dropped_types, kept_mass, dropped_mass)
    over the fit corpus's unpruned trigram table at the given threshold
    — the same no-silent-caps contract as ``lsh_cap_stats``. On a
    natural corpus expect dropped_types ≫ kept_types (the Zipf tail)
    while dropped_mass stays a small fraction: that asymmetry is the
    whole case for pruning, and this query is how you check it holds on
    YOUR corpus before trusting the pruned scorer. Two map-side-
    combining aggregates; the result is a single row."""
    m = int(prune_min_count)
    tri = _ngram_counts(_ngram_stream(docs, 3, text_col, None), 3)[-1]
    kept = F.col("c3") >= m
    return tri.agg(
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_types"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("dropped_types"),
        F.sum(F.when(kept, F.col("c3")).otherwise(0)).cast("long").alias("kept_mass"),
        F.sum(F.when(~kept, F.col("c3")).otherwise(0)).cast("long").alias("dropped_mass"),
    )

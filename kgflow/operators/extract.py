"""Mention detection + surface extraction over transcript text.

Replaces the reference's per-record Python NLP/enrichment hop
(``neo4j_pubmed_batch_embeddings_processor.py:67-328`` parses records one
at a time in the driver) with a single Arrow-batched ``mapInArrow``
stage: a token-level Aho–Corasick automaton, built once per task from a
broadcast surface list, scans each text batch (greedy leftmost-longest,
non-overlapping — the rule ``reference_oracle._scan`` specifies).

Scale notes:
* The stage itself is narrow. The per-turn extractor
  (``extract_linked_terms_grouped``) runs on any partitioning;
  ``extract_conversation_triples`` needs its input clustered by
  conversation, and the KG pipeline pays ONE exchange of the turn rows
  for that (``pipeline._conversation_triples``). Its output is then
  distinct per conversation, so no triple exchange keyed by the source
  conversation follows it.
* The dictionary is broadcast once (ontology lexicons are MB-scale, like
  the reference's OBO files); every task rebuilds the automaton from the
  broadcast value (~0.3 s at 100k surfaces).
* Per-token work is O(1) amortized however many patterns share a head
  token, so 10⁶-surface lexicons with hub head-tokens stay cheap.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterator, Sequence
from itertools import combinations

import pandas as pd
from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


class TokenAhoCorasick:
    """Token-level Aho–Corasick automaton over lower-cased whitespace
    tokens. ``find`` is the extraction rule; ``match_set`` reports every
    occurrence instead.

    Greedy longest-match-first is the deterministic tie-break (the
    reference's MERGE-based loaders are first-writer-wins; we replace
    order-dependence with an explicit rule — SURVEY.md §7.5.2).
    """

    def __init__(self, surfaces: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.lengths: list[tuple[int, ...]] = [()]  # pattern lengths ending here
        for s in surfaces:
            toks = tuple(s.lower().split())
            if not toks:
                continue
            node = 0
            for t in toks:
                nxt = self.goto[node].get(t)
                if nxt is None:
                    self.goto.append({})
                    self.fail.append(0)
                    self.lengths.append(())
                    nxt = len(self.goto) - 1
                    self.goto[node][t] = nxt
                node = nxt
            if len(toks) not in self.lengths[node]:
                self.lengths[node] = self.lengths[node] + (len(toks),)
        # BFS fail links; propagate outputs from the fail target
        from collections import deque

        q = deque(self.goto[0].values())
        while q:
            node = q.popleft()
            for t, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and t not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(t, 0) if child != self.goto[f].get(t, 0) else 0
                self.lengths[child] = self.lengths[child] + self.lengths[self.fail[child]]

    def match_set(self, text: str) -> set[str]:
        """ALL distinct patterns occurring in ``text`` at token
        boundaries — independent per-pattern detection, NO greedy
        non-overlapping sweep. This is the contamination-probe contract:
        a probe must be counted even when it overlaps or nests inside
        another probe's occurrence (where ``find``'s segmentation would
        swallow it). One automaton pass per text regardless of probe
        count."""
        toks = text.lower().split()
        hits: set[str] = set()
        node = 0
        for j, t in enumerate(toks):
            while node and t not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(t, 0)
            for L in self.lengths[node]:
                hits.add(" ".join(toks[j - L + 1 : j + 1]))
        return hits

    def find(self, text: str) -> list[tuple[str, int, int]]:
        """Greedy non-overlapping leftmost-longest scan → [(surface,
        start, end)]: one automaton pass records the longest pattern
        starting at every token, then a left-to-right sweep takes the
        match at each free position.

        ``surface`` is the matched tokens joined by single spaces;
        start/end are token offsets (stable across whitespace
        normalization, which keeps the per-turn text-equality invariant
        decoupled from offsets).
        """
        # str.split() ≡ \S+ tokenization (splits on all unicode whitespace)
        # and is ~3× faster than regex iteration in the hot path
        toks = text.lower().split()
        best: dict[int, int] = {}  # start -> longest length
        node = 0
        for j, t in enumerate(toks):
            while node and t not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(t, 0)
            for L in self.lengths[node]:
                s = j - L + 1
                if L > best.get(s, 0):
                    best[s] = L
        out = []
        i, n = 0, len(toks)
        while i < n:
            L = best.get(i, 0)
            if L:
                out.append((" ".join(toks[i : i + L]), i, i + L))
                i += L
            else:
                i += 1
        return out


def _extract(
    transcripts: DataFrame,
    cols: list[str],
    payload: tuple,
    schema: T.StructType,
    emit: Callable[[list[tuple], tuple, dict], Sequence[list]],
    tally: Accumulator | None = None,
) -> DataFrame:
    """The one extraction stage: ``transcripts.select(*cols)`` (``conv_id``
    first, text column last) → ``schema`` rows in a single narrow
    ``mapInArrow``.

    ``payload`` is broadcast once; its first item is the surface
    collection (a list, or a dict keyed by surface). Each task builds
    the automaton from it and hands every *conversation group* — a run
    of consecutive rows with one ``conv_id`` — to ``emit(group,
    payload)``: a list of ``(row, find(text))`` pairs (no hits for null
    or empty text) in input order. ``emit`` returns the group's output
    as one list per ``schema`` column (or nothing): Arrow converts a
    column list several times faster than it converts rows. A group is
    carried across Arrow batches until the next conversation
    starts, so one conversation is held in memory at a time. Each
    conversation is ONE group only when its rows are adjacent: callers
    that need whole conversations cluster and sort the input first
    (``extract_conversation_triples``).

    ``emit`` also gets a dict that lives as long as the task, for
    per-task sums; with ``tally`` (a ``bucket_tally`` accumulator) the
    task hands that dict to the driver once, after its last group.

    Only surfaces equal to ``" ".join(s.split())`` enter the automaton:
    ``_scan`` never matches one holding a tab, a newline or a double
    space, and left in it would consume tokens. Every hit is then the
    lower-cased form of a payload surface (a ``link.surface_map`` key).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    bc = transcripts.sparkSession.sparkContext.broadcast(payload)
    arrow_schema = to_arrow_schema(schema)

    def batch(columns: list[list]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        value = bc.value
        find = TokenAhoCorasick([s for s in value[0] if s == " ".join(s.split())]).find
        group: list[tuple] = []
        sums: dict = {}
        out: list[list] = [[] for _ in arrow_schema]
        for rb in batches:
            for row in zip(*(c.to_pylist() for c in rb.columns)):
                if group and row[0] != group[0][0][0]:
                    for c, vals in zip(out, emit(group, value, sums)):
                        c.extend(vals)
                    group = []
                text = row[-1]
                group.append((row, find(text) if isinstance(text, str) and text else []))
            yield batch(out)
            out = [[] for _ in arrow_schema]
        if group:
            yield batch(emit(group, value, sums) or out)
        if tally is not None:
            tally.add(sums)

    return transcripts.select(*cols).mapInArrow(run, schema=schema)


_GROUPED_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("term_ids", T.ArrayType(T.StringType()), False),
        T.StructField("namespaces", T.ArrayType(T.StringType()), False),
    ]
)


def _emit_grouped(group, payload, _sums):
    """One ``_GROUPED_OUT`` row per turn of ``group`` with hits, as
    columns; turns without hits emit nothing."""
    smap, cmap = payload
    rows = []
    for (conv, tidx, _text), hits in group:
        if hits:
            linked = [smap[surface] for surface, _s, _e in hits]
            rows.append(
                (conv, tidx, [cmap.get(t, t) for t, _ in linked], [ns for _, ns in linked])
            )
    return [list(c) for c in zip(*rows)]


def extract_linked_terms_grouped(
    transcripts: DataFrame,
    surface_map: dict[str, tuple[str, str]],
    canon_map: dict[str, str] | None = None,
) -> DataFrame:
    """Fused extract + link + canon, GROUPED per turn: one output row per
    input row with ≥1 mention, (conv_id, turn_idx, term_ids, namespaces)
    with the mentions as aligned parallel arrays: each mention's
    ``surface_map`` term id, rewritten through ``canon_map``, and its
    namespace, in text order. Exploding ``arrays_zip(term_ids,
    namespaces)`` gives one row per ``TokenAhoCorasick.find`` hit
    (multiplicity preserved) — ``reference_oracle._scan`` over the
    oracle maps.

    Why fused: the dimension lookup is done inside the batch loop that
    already holds the matched surface string. The separate linking pass
    was the pipeline's worst scaler: two broadcast hash joins
    re-materializing every mention row cost ~24 CPU-s at 4 cores and
    64+ CPU-s at 16 cores on 29M mentions (measured round 3); two dict
    lookups per mention here are free by comparison. The maps are
    dimension-scale — the same size class as the surface list — so the
    100 TB posture is unchanged: one narrow map, zero shuffle.

    The KG pipeline emits its triples with ``extract_conversation_
    triples`` on the same kernel; this per-turn form serves callers that
    want the linked mentions themselves.
    """
    return _extract(
        transcripts,
        ["conv_id", "turn_idx", "text"],
        (surface_map, canon_map or {}),
        _GROUPED_OUT,
        _emit_grouped,
    )


_TRIPLE_OUT = T.StructType(
    [
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("src_conv", T.StringType(), True),
        T.StructField("family", T.StringType(), True),
        T.StructField("n_obs", T.LongType(), True),
    ]
)


class _ReplaceByKey(AccumulatorParam):
    """A dict accumulator whose merge REPLACES each key's entry instead
    of adding to it: an update re-sent by a re-executed task leaves the
    value as it was. Exact only when every key's whole value comes from
    one task, which the bucket exchange guarantees for bucket keys."""

    def zero(self, value):
        return {}

    def addInPlace(self, value, update):
        value.update(update)
        return value


def bucket_tally(spark) -> Accumulator:
    """An accumulator for ``extract_conversation_triples(tally=...)``:
    bucket → ``[turns, tokens, ttr_q4 sum, turns with a ttr_q4, blank
    turns, mentions]``."""
    return spark.sparkContext.accumulator({}, _ReplaceByKey())


# the per-turn quality values a tallied input carries beside its bucket
# (checkpoint.run_resumable projects them)
QUALITY_COLS = ["_n_tok", "_ttr_q4", "_empty"]


def _emit_tallied(group, payload, sums):
    """``_emit_conversation`` that also adds each turn of ``group`` to
    its bucket's sums (see ``bucket_tally``); a null ``_ttr_q4`` (a turn
    without tokens) is left out of the ttr sum and its count."""
    for (_conv, _tidx, bucket, n_tok, ttr_q4, empty, _text), hits in group:
        s = sums.get(bucket)
        if s is None:
            s = sums[bucket] = [0] * 6
        s[0] += 1
        s[1] += n_tok
        if ttr_q4 is not None:
            s[2] += ttr_q4
            s[3] += 1
        s[4] += empty
        s[5] += len(hits)
    return _emit_conversation(group, payload, sums)


def _emit_conversation(group, payload, _sums):
    """One conversation's MENTIONS, HAS_<NS>, CO_OCCURS_WITH and
    NEXT_TURN triples, each distinct with its observation count, as
    ``_TRIPLE_OUT`` columns. The strings are the ones ``pipeline``
    documents; a null ``conv_id`` or ``turn_idx`` gives the null URI
    that ``F.concat`` gives."""
    (links,) = payload
    conv = group[0][0][0]
    # each family's (x, y) keys, one per observation, counted once at
    # the end (one C-level count per family, not one per turn)
    m_keys: list[tuple] = []  # (turn, term)
    h_keys: list[tuple] = []  # (HAS_<NS>, term)
    c_keys: list[tuple] = []  # (term, term)
    n_keys: list[tuple] = []  # (turn, next turn)
    prev = None
    for i, ((_conv, tidx, *_), hits) in enumerate(group):
        turn = None if conv is None or tidx is None else f"turn:{conv}:{tidx}"
        # the lead() of the previous turn in (conv_id, turn_idx) order
        if i and tidx is not None:
            n_keys.append((prev, turn))
        prev = turn
        if not hits:
            continue
        linked = [links[surface] for surface, _s, _e in hits]
        h_keys += linked
        m_keys += [(turn, t) for _, t in linked]
        if len(linked) > 1:
            # sorted distinct ids: the pair order is least/greatest
            c_keys += combinations(sorted({t for _, t in linked}), 2)
    conv_uri = None if conv is None else f"conv:{conv}"
    out: list[list] = [[] for _ in range(6)]
    subj, pred, obj, src, family, n_obs = out
    for fam, p, keys in (
        ("mention", "MENTIONS", m_keys),
        ("conv_ns", None, h_keys),  # x is the predicate, the subject is the conversation
        ("cooccur", "CO_OCCURS_WITH", c_keys),
        ("next_turn", "NEXT_TURN", n_keys),
    ):
        counts = Counter(keys)
        xs = [x for x, _ in counts]
        subj += xs if p else [conv_uri] * len(xs)
        pred += [p] * len(xs) if p else xs
        obj += [y for _, y in counts]
        family += [fam] * len(xs)
        n_obs += counts.values()
    src += [conv] * len(n_obs)
    return out


def extract_conversation_triples(
    transcripts: DataFrame,
    surface_map: dict[str, tuple[str, str]],
    canon_map: dict[str, str],
    has_preds: dict[str | None, str | None],
    tally: Accumulator | None = None,
) -> DataFrame:
    """Fused extract + link + canon + triple emission, per conversation:
    ``_TRIPLE_OUT`` rows (subj, pred, obj, src_conv, family, n_obs), where
    each row is ``n_obs`` observations of one MENTIONS, HAS_<NS>,
    CO_OCCURS_WITH or NEXT_TURN triple in its source conversation
    ``src_conv``.

    ``has_preds`` maps each namespace to its ``HAS_<NS>`` predicate, upper-
    cased in the JVM (``pipeline.prepare_lexicon``) so it equals
    ``F.upper``; null maps to null. The three maps are joined on the
    driver into one broadcast dict, surface → (``HAS_<NS>`` predicate,
    canonical term id).

    INPUT CONTRACT: ``transcripts`` clustered by conversation and sorted
    by (conv_id, turn_idx) within each partition. Every conversation is
    then one group, so the rows are distinct per (subj, pred, obj,
    src_conv) — no global dedup is needed on that key — and NEXT_TURN
    links each turn to the next one in turn order, null or empty text
    included.

    ``tally`` (a ``bucket_tally`` accumulator): the input also carries
    ``bucket`` and ``QUALITY_COLS``, and each task sums those values per
    bucket, with the bucket's mention count, into the accumulator. The
    clustering puts every bucket wholly in one task, so the
    accumulator's replace-merge is exact even when a task re-runs.
    """
    links = {s: (has_preds[ns], canon_map.get(t, t)) for s, (t, ns) in surface_map.items()}
    if tally is None:
        cols, emit = ["conv_id", "turn_idx", "text"], _emit_conversation
    else:
        cols, emit = ["conv_id", "turn_idx", "bucket", *QUALITY_COLS, "text"], _emit_tallied
    return _extract(transcripts, cols, (links,), _TRIPLE_OUT, emit, tally)


def hash_embedding(
    df: DataFrame,
    text_col: str = "text",
    dim: int = 64,
    model: str | None = None,
    embedded_at: float | None = None,
) -> DataFrame:
    """Deterministic hash 'embedding' — the torch-free stand-in for the
    reference's BERT encode (``neo4j_pubmed_batch_embeddings_processor.py:
    382-452``): tokenizing + feature hashing + L2 normalize, as an
    Arrow-batched pandas UDF (Series → Series of array<float>).

    Empty text → zero vector (``neo4j_cancerkg_builder.py:151-152``).

    Per-vector provenance (E7): pass ``model`` (and optionally an epoch
    ``embedded_at``) to add ``embedding_model`` / ``embedded_at`` columns
    beside the vector — the reference stamps these during remediation
    (``pubmed_embedding_remediation.py:59-69``); recording them at write
    time makes the remediation pass unnecessary.
    """
    import zlib

    import numpy as np

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            v = np.zeros(dim, dtype=np.float32)
            if isinstance(t, str) and t:
                for tok in t.lower().split():
                    # crc32, not hash(): stable across executors/processes
                    h = zlib.crc32(tok.encode("utf-8")) & 0x7FFFFFFF
                    v[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
                n = float(np.linalg.norm(v))
                if n > 0:
                    v /= n
            out.append(v.tolist())
        return pd.Series(out)

    out = df.withColumn("embedding", embed(F.col(text_col)))
    if model is not None:
        import time

        stamp = embedded_at if embedded_at is not None else time.time()
        out = out.withColumn("embedding_model", F.lit(model)).withColumn(
            "embedded_at", F.timestamp_seconds(F.lit(float(stamp)))
        )
    return out


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the classic salient-term
    extractor (the declarative replacement for the reference's
    driver-side keyword picks, ``readcube_publication_data_importer.py``
    tag fields): score(doc, t) = tf(doc, t) · log10(N/df(t)), keep the
    k highest-scoring terms per document.

    Determinism across engines and partitionings: the idf is scaled to
    an integer once per TERM (round(log10(N/df)·10⁶) as ``idf6``) and
    the score is the exact integer product ``tf·idf6`` — no float
    compare ever breaks a tie differently; residual score ties break
    toward the lexicographically smallest term.

    Scale shape: one (doc, term) count aggregate (map-side partial),
    the document-frequency table derived from it by a second vocab-
    sized aggregate, a 1-row corpus count broadcast, one join of the
    df table back onto the (doc, term) counts (AQE picks the strategy
    from measured bytes), then the top-k window — rank ≤ k is a
    WindowGroupLimit, so each partition keeps at most k rows per
    document before the window shuffle."""
    from .util import spread
    from ..functions import text as tx

    # spread before the tokenize/explode
    toks = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tx.tokens(text_col)).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = dft.crossJoin(F.broadcast(n_docs)).select(
        "tok",
        F.round(F.log10(F.col("n") / F.col("df")) * 1_000_000, 0)
        .cast("long")
        .alias("idf6"),
    )
    scored = tf.join(idf, "tok").select(
        id_col, "tok", "tf", (F.col("tf") * F.col("idf6")).alias("score6")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score6"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(id_col, "rank", "tok", "tf", "score6")
    )

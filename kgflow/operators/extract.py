"""Mention detection + surface extraction over transcript text.

Replaces the reference's per-record Python NLP/enrichment hop
(``neo4j_pubmed_batch_embeddings_processor.py:67-328`` parses records one
at a time in the driver) with a single Arrow-batched ``mapInPandas``
stage: a token-level Aho–Corasick automaton, built once per task from a
broadcast surface list, scans each text batch (greedy leftmost-longest,
non-overlapping — the rule ``reference_oracle._scan`` specifies).

Scale notes:
* No shuffle — extraction is embarrassingly parallel over the
  conv_id-hash bucketed input partitions.
* The dictionary is broadcast once (ontology lexicons are MB-scale, like
  the reference's OBO files); every task rebuilds the automaton from the
  broadcast value (~0.3 s at 100k surfaces).
* Per-token work is O(1) amortized however many patterns share a head
  token, so 10⁶-surface lexicons with hub head-tokens stay cheap.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
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
    emit: Callable[[tuple, list, tuple], list[tuple]],
) -> DataFrame:
    """The one extraction stage: ``transcripts.select(*cols)`` (text
    column last) → ``schema`` rows in a single narrow ``mapInPandas``.

    ``payload`` is broadcast once; its first item is the surface
    collection (a list, or a dict keyed by surface). Each task builds
    the automaton from it, and for every non-empty text returns
    ``emit(row, find(text), payload)`` — a list of output tuples.

    Only surfaces equal to ``" ".join(s.split())`` enter the automaton:
    ``_scan`` never matches one holding a tab, a newline or a double
    space, and left in it would consume tokens. Every hit is then the
    lower-cased form of a payload surface (a ``link.surface_dim`` key).
    """
    bc = transcripts.sparkSession.sparkContext.broadcast(payload)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        value = bc.value
        find = TokenAhoCorasick([s for s in value[0] if s == " ".join(s.split())]).find
        for pdf in batches:
            out: list[tuple] = []
            for row in zip(*(pdf[c] for c in cols)):
                text = row[-1]
                if isinstance(text, str) and text:
                    out.extend(emit(row, find(text), value))
            # object dtype: an EMPTY batch would otherwise default every
            # column to float64, which Arrow cannot convert to
            # string/list<string>
            columns = list(zip(*out)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype="object") for n, c in zip(names, columns)}
            )

    return transcripts.select(*cols).mapInPandas(run, schema=schema)


_MENTION_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("surface", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)


def _emit_mentions(row, hits, _payload):
    conv, tidx, role, _text = row
    return [(conv, tidx, role, surface, s, e) for surface, s, e in hits]


def extract_mentions(transcripts: DataFrame, surfaces: list[str]) -> DataFrame:
    """transcripts → one row per detected mention (exploded).

    Output: (conv_id, turn_idx, role, surface, start, end). Linking to
    term_ids happens downstream as a broadcast join (operators.link) so
    the Python stage stays a pure text op.
    """
    return _extract(
        transcripts,
        ["conv_id", "turn_idx", "role", "text"],
        (sorted(set(surfaces)),),
        _MENTION_OUT,
        _emit_mentions,
    )


_GROUPED_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("term_ids", T.ArrayType(T.StringType()), False),
        T.StructField("namespaces", T.ArrayType(T.StringType()), False),
    ]
)


def _emit_grouped(row, hits, payload):
    if not hits:
        return []
    smap, cmap = payload
    linked = [smap[surface] for surface, _s, _e in hits]
    return [
        (row[0], row[1], [cmap.get(t, t) for t, _ in linked], [ns for _, ns in linked])
    ]


def extract_linked_terms_grouped(
    transcripts: DataFrame,
    surface_map: dict[str, tuple[str, str]],
    canon_map: dict[str, str] | None = None,
) -> DataFrame:
    """Fused extract + link + canon, GROUPED per turn: one output row per
    input row with ≥1 mention, (conv_id, turn_idx, term_ids, namespaces)
    with the mentions as aligned parallel arrays. Exploding
    ``arrays_zip(term_ids, namespaces)`` equals ``extract_mentions`` →
    ``link.link_mentions`` → ``canon.apply_canonical([term_id])`` row
    for row (multiplicity preserved, so observation-count provenance is
    unchanged).

    Why fused: the dimension lookup is done inside the batch loop that
    already holds the matched surface string. The separate linking pass
    was the pipeline's worst scaler: two broadcast hash joins
    re-materializing every mention row cost ~24 CPU-s at 4 cores and
    64+ CPU-s at 16 cores on 29M mentions (measured round 3); two dict
    lookups per mention here are free by comparison. The maps are
    dimension-scale — the same size class as the surface list — so the
    100 TB posture is unchanged: one narrow map, zero shuffle.

    Why grouped: a transcript row IS one turn, so the per-turn term sets
    the co-occurrence family needs are complete inside the batch loop —
    keeping them grouped removes the ``groupBy(conv_id, turn_idx).
    collect_set`` exchange (a full shuffle of the mention table, the
    dominant post-fusion scaling loss measured round 3) from the
    pipeline; pair expansion happens in-row on ``array_distinct``.
    Contract: one input row per (conv_id, turn_idx) — the transcript
    input hint's shape; duplicate turn rows would produce per-row
    (not per-turn) co-occurrence sets downstream.
    """
    return _extract(
        transcripts,
        ["conv_id", "turn_idx", "text"],
        (surface_map, canon_map or {}),
        _GROUPED_OUT,
        _emit_grouped,
    )


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
    df_broadcast_threshold: int = 2_000_000,
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
    sized aggregate, a 1-row corpus count broadcast, a size-gated join
    of the df table back onto the (doc, term) counts, then the top-k
    window — rank ≤ k is a WindowGroupLimit, so each partition keeps
    at most k rows per document before the window shuffle."""
    from .util import gated_broadcast
    from ..functions import text as tx

    # spread the single-split scan before the tokenize/explode
    toks = (
        docs.select(F.col(id_col), F.col(text_col))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), F.explode(tx.tokens(text_col)).alias("tok"))
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
    scored = tf.join(gated_broadcast(idf, df_broadcast_threshold), "tok").select(
        id_col, "tok", "tf", (F.col("tf") * F.col("idf6")).alias("score6")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score6"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(id_col, "rank", "tok", "tf", "score6")
    )

"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first (run in this order at scale):

1. **exact** — md5 fingerprint groupBy; one shuffle on a 16-byte key.
2. **MinHash + LSH** — shingle → K md5-min signatures → band buckets →
   candidate pairs only within a bucket; avoids the O(n²) cross join.
3. **SimHash** — sign-hash signature (16-bit sandbox default, 64-bit
   corpus scale: 2¹⁶ signature values cannot separate 10⁸⁺ documents —
   every band bucket saturates and the hot-bucket cap would silently
   drop everything; ``simhash64`` is the same arithmetic over 64 bits).
4. **n-gram Jaccard verify** — exact shingle-set overlap of each
   MinHash candidate pair, counted inside the LSH bucket that builds
   the pair (:func:`minhash_verified_pairs`): the MinHash pass emits
   each doc's sorted int64 shingle hashes, so the verify costs no
   second shingling pass and no join back to the corpus. A count can
   be off only if two distinct shingles of one pair's union share a
   64-bit hash.

Every banded tier (MinHash, SimHash, image pHash) pairs candidates in
one bucket-local kernel, :func:`_bucket_pairs`: the band rows are
clustered by bucket once and each bucket is paired inside its
partition — no band self-join, no hot-key aggregate, no broadcast. Its
hot-bucket cap counts a bucket's rows as it streams them, so a hot
bucket is dropped after at most ``max_bucket + 1`` buffered rows.

Hot-bucket caps are observable, not silent: ``minhash_cap_stats`` /
``simhash_cap_stats`` report, for the exact banding a pairing call
would use, how many buckets the cap drops, how many band rows those
buckets held, and how many documents lose EVERY band (and with it all
candidate generation) — the number that measures recall loss.

Those reports and :func:`dedup_delta`'s store side size a bucket with
one window over the bucket columns, the oracle SQL's ``COUNT(*) OVER
(PARTITION BY band_id, key)``: no hot-key join, broadcast or checkpoint.

md5 is used as the hash family so a DuckDB oracle reproduces every
value bit-for-bit.
The same duplicate-group resolution rule as the KG side applies:
min(doc_id) is the canonical representative (C3, SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as tx
from .util import spread

# Per-task md5 memo bound (entries), MinHash and SimHash: a MinHash entry
# holds the K hex digests of one shingle and its int64 hash, ~900 bytes
# at K=8, so a memo stays under ~60 MB per task; past the bound it is
# cleared and refills.
_MD5_MEMO_ENTRIES = 65_536


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, canonical_id, n_dups) — one row per distinct text."""
    return (
        docs.select(F.col(id_col), tx.fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{K-1}) — sig_i = min over shingles of md5(i‖shingle).

    md5-hex strings compare lexicographically, which is a valid uniform
    min-hash family and is portable across engines.

    Shape: spread the RAW docs (small rows — the exchange carries text
    once, not the ~3× larger shingle arrays the earlier formulation
    shuffled), then ONE Arrow-batched pass min-hashes each doc with
    :func:`_minhash_signer`. Docs too short to shingle emit no row
    (parity: ``word_shingles`` → [] → filtered).
    """
    return _minhash_map(docs, id_col, text_col, num_hashes, shingle_n, False)


def _minhash_map(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    hashes: bool,
) -> DataFrame:
    """:func:`minhash_signatures`' frame; with ``hashes`` each row also
    carries ``shingle_hashes``, the doc's sorted distinct int64 shingle
    hashes (:func:`_minhash_signer`), from the same pass."""
    import pandas as pd

    id_t = docs.schema[id_col].dataType.simpleString()
    k = int(num_hashes)
    sign = _minhash_signer(k, int(shingle_n), hashes)
    cols = [id_col, *[f"sig_{i}" for i in range(k)]]
    types = [id_t, *["string"] * k]
    if hashes:
        cols.append("shingle_hashes")
        types.append("array<bigint>")

    def run(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sig = sign(text)
                if sig is not None:
                    rows.append((did, *sig))
            yield pd.DataFrame(rows, columns=cols)

    schema = ", ".join(f"{c} {t}" for c, t in zip(cols, types))
    return spread(docs.select(id_col, text_col)).mapInPandas(run, schema=schema)


def _minhash_signer(k: int, n: int, hashes: bool = False):
    """``sign(text)`` → the K MinHash components of ``text``'s word
    n-gram set (sig_i = min over shingles of md5(i‖shingle) as lowercase
    hex), or None when the text is null or has fewer than ``n`` tokens.
    With ``hashes`` the list also ends with the set itself: the sorted
    distinct int64 shingle hashes, each the first 8 bytes of the
    shingle's md5("0|"‖shingle) digest, which sig_0 already computes.
    A Python list, not a numpy array: Spark's pandas-to-Arrow converter
    turns an array cell into a list of numpy scalars first.

    Built on the driver and shipped with the Arrow pass: each task
    unpickles its own empty memo of per-shingle K-digest tuples (plus
    the shingle hash), so a boilerplate shingle repeated across
    thousands of docs is hashed once (the JVM expression form re-hashed
    it per occurrence — K interpreted md5+concat lambdas each). The
    memo is a pure cache, bounded at ``_MD5_MEMO_ENTRIES`` (read here,
    on the driver): once full it is cleared, so unique-shingle-heavy
    input cannot grow a worker without limit and the signatures never
    change. hex-string min in Python is byte-lexicographic, identical
    to the JVM/DuckDB string compare on lowercase hex.
    """
    import hashlib

    cap = _MD5_MEMO_ENTRIES
    memo: dict[str, tuple] = {}
    prefixes = [f"{i}|".encode("utf-8") for i in range(k)]

    def digests(sh: str) -> tuple:
        d = memo.get(sh)
        if d is None:
            if len(memo) >= cap:
                memo.clear()
            raw = sh.encode("utf-8")
            d = tuple(hashlib.md5(p + raw).hexdigest() for p in prefixes)
            h = int(d[0][:16], 16)  # the digest's first 8 bytes, big-endian
            d += (h - (1 << 64) if h >> 63 else h,)
            memo[sh] = d
        return d

    def sign(text) -> list | None:
        toks = tx.py_tokens(text)
        if toks is None or len(toks) < n:
            return None
        sigs = [
            digests(s)
            for s in {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        ]
        out: list = [min(d[i] for d in sigs) for i in range(k)]
        if hashes:
            out.append(sorted({d[k] for d in sigs}))
        return out

    return sign


def _minhash_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    shingle_n: int,
    hashes: bool = False,
) -> DataFrame:
    """(id, band_id, band_key) — one row per (doc, LSH band); with
    ``hashes`` each row also carries the doc's ``shingle_hashes``."""
    sigs = _minhash_map(docs, id_col, text_col, num_hashes, shingle_n, hashes)
    carry = ("shingle_hashes",) if hashes else ()
    return _bands_from_sigs(sigs, id_col, num_hashes, band_size, carry)


def _bands_from_sigs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, band_id, band_key) from an existing signature frame —
    the banding used both when signatures are computed in-flight and
    when they come from a maintained store (:func:`dedup_delta`)."""
    n_bands = num_hashes // band_size
    return sigs.select(
        F.col(id_col),
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, *carry, "band.band_id", "band.band_key")


def _pair_blocks(n: int, max_pairs: int):
    """The (i, j) index arrays of every pair i < j < n, in
    ``np.triu_indices(n, 1)`` order, one block of whole rows at a time:
    a block holds at most ``max_pairs`` pairs, or one row when that row
    alone holds more. Memory is O(n + max_pairs) where ``triu_indices``
    is O(n²)."""
    import numpy as np

    per_row = np.arange(n - 1, 0, -1)  # row i pairs with i+1 .. n-1
    ends = np.cumsum(per_row)
    r, done = 0, 0
    while r < n - 1:
        r1 = max(int(np.searchsorted(ends, done + max_pairs, side="right")), r + 1)
        cnt = per_row[r:r1]
        i = np.repeat(np.arange(r, r1), cnt)
        j = np.arange(i.size) - np.repeat(np.cumsum(cnt) - cnt, cnt) + i + 1
        yield i, j
        done, r = int(ends[r1 - 1]), r1


def _popcount64(x):
    """Set bits of each value of an int64 array."""
    import numpy as np

    return np.unpackbits(x.view(np.uint8)).reshape(-1, 64).sum(axis=1)


def _set_overlaps(sets):
    """(sizes, overlap) over one bucket's sets — an object array of
    sorted distinct int64 arrays: ``overlap(i, j)`` is |sets[i] ∩
    sets[j]| for each pair of the index arrays ``i``, ``j``.

    Each row's values are coded by their rank in the bucket, so
    ``row * n_codes + code`` is one ascending int64 key per (row,
    value). A pair probes the key of every value of its smaller set in
    the other row and counts the hits: memory is O(bucket values +
    probes), one ``searchsorted`` per block of pairs."""
    import numpy as np

    sizes = np.fromiter((len(v) for v in sets), np.int64, len(sets))
    uniq, codes = np.unique(np.concatenate(list(sets)), return_inverse=True)
    n_codes = len(uniq)
    firsts = np.cumsum(sizes) - sizes
    # the sentinel ends the keys above every probe
    keys = np.append(
        np.repeat(np.arange(len(sets)) * n_codes, sizes) + codes,
        np.iinfo(np.int64).max,
    )

    def overlap(i, j):
        small = sizes[i] <= sizes[j]
        p, q = np.where(small, i, j), np.where(small, j, i)
        cnt = sizes[p]
        ends = np.cumsum(cnt)
        at = np.arange(cnt.sum())
        probes = np.repeat(q * n_codes, cnt) + codes[at - np.repeat(ends - cnt - firsts[p], cnt)]
        hits = np.concatenate([[0], np.cumsum(keys[np.searchsorted(keys, probes)] == probes)])
        return hits[ends] - hits[ends - cnt]

    return sizes, overlap


def _bucket_pairs(
    bands: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int | None,
    sig_col: str | None = None,
    max_hamming: int = 0,
    set_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b) — every pair of distinct non-null ids, id_a < id_b,
    that shares a bucket (``bucket_cols``) of ``bands``, once.

    One exchange clusters the band rows by bucket and sorts them within
    partitions; one ``mapInArrow`` then streams each bucket across
    Arrow batches, the way ``extract._extract`` carries a conversation,
    and emits its pairs with numpy, a block of rows at a time
    (:func:`_pair_blocks`). A final ``dropDuplicates`` keeps one row
    per pair that several buckets share.

    * A bucket of more than ``max_bucket`` rows — counted as
      ``groupBy().count()`` counts them, null ids included — emits
      nothing (None: no cap). At most ``max_bucket + 1`` of its rows
      are buffered, so a hot bucket costs bounded worker memory.
    * A bucket whose key holds a null never pairs, as an equi-join on
      it never matches.
    * With ``sig_col`` (an int64 signature) each pair also carries
      ``hamming`` = bit_count(sig_a xor sig_b), and only pairs with
      ``hamming <= max_hamming`` are kept — filtered inside the bucket,
      before the dedup exchange (every copy of a pair carries the same
      signatures, so the filter commutes with the dedup).
    * With ``set_col`` (sorted distinct int64 arrays) each pair also
      carries ``inter_size`` = |set_a ∩ set_b| and ``union_size`` =
      |set_a| + |set_b| − inter_size, counted where the pair is built
      (:func:`_set_overlaps`), a block of at most about 2²⁰ probed
      values at a time. Every copy of a pair carries the same counts,
      so the dedup may keep any of them.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    id_type = bands.schema[id_col].dataType
    fields = [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    value_cols = [id_col]
    if sig_col is not None:
        fields.append(T.StructField("hamming", T.IntegerType()))
        value_cols.append(sig_col)
    if set_col is not None:
        fields.append(T.StructField("inter_size", T.IntegerType()))
        fields.append(T.StructField("union_size", T.IntegerType()))
        value_cols.append(set_col)
    schema = T.StructType(fields)
    arrow_schema = to_arrow_schema(schema)
    n_keys = len(bucket_cols)
    cap = None if max_bucket is None else int(max_bucket)
    max_h = int(max_hamming)
    flush_at = 1 << 16  # output pairs per yielded batch, about

    class _Bucket:
        """The bucket being streamed: its key, its row count and the
        non-null (id, sig, set) values of its rows, dropped once the row
        count passes the cap."""

        def __init__(self, key, null_key):
            self.key, self.rows, self.chunks = key, 0, None if null_key else []

        def add(self, rows, vals):
            self.rows += rows
            if self.chunks is not None:
                if cap is not None and self.rows > cap:
                    self.chunks = None
                else:
                    self.chunks.append([v.copy() for v in vals])

    def run(batches):
        out: list[list] = [[] for _ in fields]
        n_out = 0

        def pairs(vals):
            nonlocal n_out
            ids = vals[0]
            block = flush_at
            if set_col is not None:
                sizes, overlap = _set_overlaps(vals[-1])
                block = max(1, (1 << 20) // max(1, int(sizes.max())))
            for i, j in _pair_blocks(len(ids), block):
                a, b = ids[i], ids[j]
                keep = a != b
                if sig_col is not None:
                    h = _popcount64(vals[1][i] ^ vals[1][j])
                    keep &= h <= max_h
                a, b = a[keep], b[keep]
                lt = a < b
                cols = [np.where(lt, a, b), np.where(lt, b, a)]
                if sig_col is not None:
                    cols.append(h[keep].astype(np.int32))
                if set_col is not None:
                    i, j = i[keep], j[keep]
                    inter = overlap(i, j)
                    cols.append(inter.astype(np.int32))
                    cols.append((sizes[i] + sizes[j] - inter).astype(np.int32))
                for o, c in zip(out, cols):
                    o.append(c)
                n_out += len(a)

        def flush():
            nonlocal out, n_out
            cols = [
                pa.array(np.concatenate(c) if c else [], f.type)
                for c, f in zip(out, arrow_schema)
            ]
            out, n_out = [[] for _ in fields], 0
            return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

        def close(bucket):
            if bucket is not None and bucket.chunks:
                pairs([np.concatenate(c) for c in zip(*bucket.chunks)])

        cur = None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            keys = rb.columns[:n_keys]
            vals = rb.columns[n_keys:]
            valid = pc.is_valid(vals[0])
            for v in vals[1:]:
                valid = pc.and_(valid, pc.is_valid(v))
            cv = np.concatenate([[0], np.cumsum(valid.to_numpy(zero_copy_only=False))])
            vals = [v.filter(valid).to_numpy(zero_copy_only=False) for v in vals]
            change = np.zeros(n, dtype=bool)
            null_row = np.zeros(n, dtype=bool)
            for k in keys:
                idx = pc.dictionary_encode(k, null_encoding="encode").indices.to_numpy()
                change[1:] |= idx[1:] != idx[:-1]
                null_row |= k.is_null().to_numpy(zero_copy_only=False)
            starts = np.concatenate([[0], np.flatnonzero(change)])
            ends = np.append(starts[1:], n)

            def run_vals(r):
                return [v[cv[starts[r]] : cv[ends[r]]] for v in vals]

            first = 0
            if cur is not None and cur.key == tuple(k[0].as_py() for k in keys):
                cur.add(int(ends[0]), run_vals(0))
                first = 1
            last = len(starts) - 1
            if first <= last:
                close(cur)
                # buckets that start and end inside this batch
                inner = np.arange(first, last)
                lens = ends[inner] - starts[inner]
                ok = (cv[ends[inner]] - cv[starts[inner]] >= 2) & ~null_row[starts[inner]]
                if cap is not None:
                    ok &= lens <= cap
                for r in inner[ok]:
                    pairs(run_vals(r))
                s = int(starts[last])
                cur = _Bucket(tuple(k[s].as_py() for k in keys), bool(null_row[s]))
                cur.add(n - s, run_vals(last))
            if n_out >= flush_at:
                yield flush()
        close(cur)
        yield flush()

    return (
        bands.select(*bucket_cols, *value_cols)
        .repartition(*bucket_cols)
        .sortWithinPartitions(*bucket_cols)
        .mapInArrow(run, schema=schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _cap_stats(
    bands: DataFrame, bucket_cols: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """One row: (n_buckets, n_capped_buckets, n_rows_dropped,
    n_docs_fully_excluded) for the given banding and cap. The last
    number is the one that measures recall loss: a doc whose EVERY band
    is hot generates no candidates at all, so any true near-dup pair
    whose only agreeing band is hot is silently lost by the cap — this
    makes that loss observable (the repo's no-silent-caps rule).

    A bucket is capped by the same rule the pairing kernel applies
    while it streams the bucket (:func:`_bucket_pairs`): more than
    ``max_bucket`` rows, counted as ``groupBy().count()`` counts them.

    Scale shape: one window over the bucket columns gives each band row
    its bucket's size ``_bn`` (the oracle's ``COUNT(*) OVER (PARTITION
    BY band_id, key)``) and flags one row per bucket, so the bucket
    tallies ride the per-doc aggregate and one global aggregate
    finishes. No join, broadcast or checkpoint; a hot bucket sits in
    the window's spillable buffer."""
    # one ordering for both frames keeps them in one Window operator
    w = Window.partitionBy(*bucket_cols).orderBy(id_col)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hot = F.col("_bn") > max_bucket
    first_hot = F.col("_first") & hot
    per_doc = (
        bands.select(
            id_col,
            F.count(F.lit(1)).over(whole).alias("_bn"),
            (F.row_number().over(w) == 1).alias("_first"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_nb"),
            F.sum(hot.cast("long")).alias("_nh"),
            F.sum(F.col("_first").cast("long")).alias("_b"),
            F.sum(first_hot.cast("long")).alias("_cb"),
            F.sum(F.when(first_hot, F.col("_bn")).otherwise(F.lit(0))).alias("_rd"),
        )
    )
    return per_doc.agg(
        # a COUNT, as the oracle's: 0 on empty bands, where SUMs are null
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("n_buckets"),
        F.sum("_cb").cast("long").alias("n_capped_buckets"),
        F.sum("_rd").cast("long").alias("n_rows_dropped"),
        F.sum((F.col("_nb") == F.col("_nh")).cast("long")).alias(
            "n_docs_fully_excluded"
        ),
    )


def minhash_cap_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """Hot-bucket drop report for ``minhash_lsh_pairs`` at the same
    parameters — run it beside the pairing call to see what the cap
    costs (see ``_cap_stats``: one window, the oracle's ``COUNT(*) OVER``)."""
    bands = _minhash_bands(docs, id_col, text_col, num_hashes, band_size, shingle_n)
    return _cap_stats(bands, ["band_id", "band_key"], id_col, max_bucket)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band.

    Scale shape: explode to (band_id, band_key, id), cluster on the
    band key (short md5-concat string), pair inside each bucket
    (:func:`_bucket_pairs`). Hot buckets (boilerplate text) are the
    skew risk: ``max_bucket`` (default 500 — ON by default; pass None
    to disable) drops buckets holding more than that many docs
    *before* pairing, bounding any bucket's pair output at
    max_bucket²/2, its buffered rows at max_bucket + 1, and killing the
    straggler task a boilerplate group would otherwise create. (Such groups are
    exact or near-exact duplicates — the cheap exact-dedup tier, run
    first, is the right tool for them, not pairwise LSH.) What the cap
    drops is observable via ``minhash_cap_stats`` at the same
    parameters — no silent caps.
    """
    bands = _minhash_bands(docs, id_col, text_col, num_hashes, band_size, shingle_n)
    return _bucket_pairs(bands, id_col, ["band_id", "band_key"], max_bucket)


def minhash_verified_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """The ``minhash_lsh_pairs`` candidates, each with its exact
    shingle-set overlap: (id_a, id_b, inter_size, union_size).

    Counts are integers — floats would make the cross-engine value
    comparison fragile; callers derive jaccard = inter/union.

    Scale shape: the MinHash pass that builds each doc's shingle set
    also emits it as sorted int64 shingle hashes (the integer-set
    verify of *HERO*, SIGMOD 2024); the band rows carry them through
    the one bucket exchange, and :func:`_bucket_pairs` counts each
    pair's overlap where it builds the pair. No second shingling pass,
    no join back to the corpus, no broadcast.

    A count can be off only if two distinct shingles of one pair's
    union share a 64-bit hash (the first 8 bytes of md5("0|"‖shingle)):
    about n²/2⁶⁵ for a union of n shingles. With a repeated id, the
    counts are those of one pair of its rows that share a bucket.
    """
    bands = _minhash_bands(
        docs, id_col, text_col, num_hashes, band_size, shingle_n, hashes=True
    )
    return _bucket_pairs(
        bands, id_col, ["band_id", "band_key"], max_bucket, set_col="shingle_hashes"
    )


def _simhash_map(docs: DataFrame, id_col: str, text_col: str, bits: int) -> DataFrame:
    """Shared Arrow-batched SimHash kernel (16- or 64-bit).

    Same values as the original in-row JVM formulation — bit sums are
    exact commutative integer arithmetic over the DISTINCT token set,
    so token order is irrelevant and the Python twin is provably
    equivalent given tokenization parity (``tx.py_tokens``) and md5
    parity (hashlib == Spark md5 == DuckDB md5 on UTF-8 bytes).

    Why Python: the JVM version evaluated ``bits``·|tokens| interpreted
    higher-order-function lambdas per document (~23 s for 50k docs at
    64 bits, single scan task); here each distinct token costs one dict
    hit (md5 masks are cached per task, cleared at ``_MD5_MEMO_ENTRIES``
    as :func:`_minhash_signer` bounds its memo) and each document one
    small vectorized
    reduction (guide §4.2: batch native code beats row-at-a-time JVM
    expressions). The input is spread (``util.spread``) before the
    map; everything after it is narrow with zero row amplification.
    """
    import numpy as np
    import pandas as pd

    id_t = docs.schema[id_col].dataType.simpleString()
    nbits = int(bits)
    cap = _MD5_MEMO_ENTRIES

    def run(batches):
        import hashlib

        cache: dict[str, object] = {}
        pow_ = 1 << np.arange(nbits, dtype=np.uint64)

        def mask(tok: str):
            b = cache.get(tok)
            if b is None:
                if len(cache) >= cap:
                    cache.clear()
                d = hashlib.md5(tok.encode("utf-8")).digest()
                byts = np.frombuffer(d, dtype=np.uint8)
                nib = np.empty(32, dtype=np.uint8)
                nib[0::2] = byts >> 4
                nib[1::2] = byts & 15
                if nbits == 16:
                    # bit p (0-based) = high bit of nibble p
                    b = ((nib[:16] >> 3) & 1).astype(np.int32)
                else:
                    # bit 2j   (0-based, even) = high bit of nibble j
                    # bit 2j+1 (0-based, odd)  = second bit of nibble j
                    b = np.empty(64, dtype=np.int32)
                    b[0::2] = (nib >> 3) & 1
                    b[1::2] = (nib >> 2) & 1
                cache[tok] = b
            return b

        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tx.py_tokens(text)
                if toks is None:  # null text: F.size(null) filter drops it
                    continue
                st = set(toks)
                t_n = len(st)
                acc = np.zeros(nbits, dtype=np.int32)
                for t in st:
                    acc += mask(t)
                # sum_i = 2·(count of set bits) − T;  bit set iff > 0
                sig_bits = (2 * acc - t_n) > 0
                v = int((sig_bits.astype(np.uint64) * pow_).sum())
                if nbits == 64 and v >= 1 << 63:
                    v -= 1 << 64  # two's-complement signed long
                ids.append(did)
                sigs.append(v)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    return spread(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} {id_t}, simhash long"
    )


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document — a single narrow map, zero shuffle.

    bit_i = sign of Σ_tokens (±1), where the ±1 for token t at position
    i is the high bit of the i-th nibble of md5(t). Portable: the same
    arithmetic runs in the DuckDB oracle. Docs with no tokens are
    excluded (parity with the original exploded formulation).
    """
    return _simhash_map(docs, id_col, text_col, 16)


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash — the corpus-scale signature width (2¹⁶ signature
    values cannot separate 10⁸⁺ documents; 2⁶⁴ keeps band-bucket
    occupancy near one at any realistic corpus size).

    Bit mapping (portable — the DuckDB oracle reproduces it exactly):
    md5(token) has 32 hex nibbles; bit i (1-based, 1..64) reads nibble
    ⌈i/2⌉ and uses its HIGH bit (value ≥ 8) for odd i, its SECOND bit
    (value mod 8 ≥ 4) for even i — two independent uniform bits per
    nibble, 64 total. Signed-long packing: bit 64 carries weight
    −2⁶³ (two's complement), so the signature lands in one BIGINT on
    both engines without overflow; band extraction masks after an
    arithmetic shift, which is sign-safe, and xor/bit_count are
    bit-pattern ops, so nothing downstream cares about the sign.
    """
    return _simhash_map(docs, id_col, text_col, 64)


def signature_bands(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """(id, <sig_col>, band_id, band_val): pigeonhole banding over ANY
    ``bits``-wide integer signature column — split the signature into
    ``max_hamming + 1`` disjoint bands; two signatures within the
    hamming bound must agree exactly on ≥1 band. Shared by the text
    SimHash tiers and the image pHash tier (multimodal.py) — one
    banding implementation, every signature family."""
    n_bands = max_hamming + 1
    widths: list[int] = []
    base, rem = divmod(bits, n_bands)
    for i in range(n_bands):
        widths.append(base + (1 if i < rem else 0))
    offs = 0
    band_structs = []
    for b, w in enumerate(widths):
        # arithmetic shiftright is sign-safe here: the mask keeps only
        # the low w bits of the shifted value, which are exactly the
        # signature's bits [offs, offs+w) regardless of sign extension
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(sig_col, offs).bitwiseAND(F.lit((1 << w) - 1)).alias("band_val"),
            )
        )
        offs += w
    return sigs.select(
        id_col, sig_col, F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, sig_col, "band.band_id", "band.band_val")


def signature_near_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    bits: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) over any integer signature
    frame via pigeonhole banding: candidates form only inside
    (band_id, band_val) buckets (one clustering shuffle), hot buckets
    capped like every LSH tier here, ``bit_count(xor)`` exact verify
    inside the bucket — the same kernel as the MinHash tier
    (:func:`_bucket_pairs`)."""
    bands = signature_bands(sigs, id_col, sig_col, max_hamming, bits)
    return _bucket_pairs(
        bands, id_col, ["band_id", "band_val"], max_bucket, sig_col, max_hamming
    )


def _simhash_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    bits: int,
) -> DataFrame:
    """Text-SimHash banding: compute the ``bits``-wide signature, then
    ``signature_bands`` it."""
    if bits not in (16, 64):
        raise ValueError(f"simhash bits must be 16 or 64, got {bits}")
    sigs = (simhash16 if bits == 16 else simhash64)(docs, id_col, text_col)
    return signature_bands(sigs, id_col, "simhash", max_hamming, bits)


def simhash_cap_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
    bits: int = 16,
    max_bucket: int = 500,
) -> DataFrame:
    """Hot-bucket drop report for ``simhash_near_pairs`` at the same
    parameters (see ``_cap_stats``: one window, the oracle's ``COUNT(*)
    OVER``). At corpus scale this is the
    saturation alarm for the 16-bit tier: when n_docs_fully_excluded
    approaches the corpus size, the signature space is saturated — use
    ``bits=64``."""
    bands = _simhash_bands(docs, id_col, text_col, max_hamming, bits)
    return _cap_stats(
        bands.drop("simhash"), ["band_id", "band_val"], id_col, max_bucket
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
    max_bucket: int | None = 500,
    bits: int = 16,
) -> DataFrame:
    """SimHash near-duplicate pairs: hamming distance ≤ ``max_hamming``
    on the ``bits``-wide signature, found WITHOUT an all-pairs
    comparison via pigeonhole banding — split the signature into
    ``max_hamming + 1`` disjoint bands; two signatures within the
    distance bound must agree exactly on at least one band, so
    candidates form only inside (band_id, band_value) buckets (one
    clustering shuffle), then ``bit_count(xor)`` verifies exactly.
    Returns (id_a, id_b, hamming) with id_a < id_b.

    bits=16, max_hamming=2 → 3 bands of 6/5/5 bits (sandbox default);
    bits=64, max_hamming=3 → 4 bands of 16 bits (the corpus-scale
    configuration — a 16-bit space saturates at 10⁸⁺ docs and the cap
    would drop every bucket; see ``simhash64``). Same scale shape as
    the MinHash tier: bucketed candidates, exact verify, no cartesian —
    including the same hot-bucket cap (``max_bucket``, ON by default):
    template-heavy corpora concentrate thousands of near-identical docs
    into one band value, and pairing would go quadratic there; such groups are (near-)exact duplicates — the cheap
    exact-dedup tier's job, not pairwise search. What the cap drops is
    observable via ``simhash_cap_stats`` at the same parameters.
    """
    if bits not in (16, 64):
        raise ValueError(f"simhash bits must be 16 or 64, got {bits}")
    sigs = (simhash16 if bits == 16 else simhash64)(docs, id_col, text_col)
    return signature_near_pairs(sigs, id_col, "simhash", max_hamming, bits, max_bucket)


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 50,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Transitive near-duplicate CLUSTERS with a kept representative —
    the full dedup composition a corpus-curation pipeline actually
    runs: LSH candidate pairs → exact Jaccard verify → connected
    components over the verified pair graph (near-duplication is not
    transitive, so A≈B and B≈C put A,C in one cluster even when A,C
    themselves differ — the grouping every production dedup uses) →
    min-id representative per cluster.

    Returns one row per input document: (id, cluster_rep, is_rep).
    Keep-filtering the corpus is ``.filter("is_rep")``.

    ``min_jaccard_pct`` compares scaled INTEGERS (inter·100 ≥
    union·pct) — exact, no float threshold drift across engines.

    Scale shape: the pair tiers are bucketed/candidate-only (see module
    docstring), and each pair's counts come out of its bucket
    (:func:`minhash_verified_pairs`), so the threshold filters the
    deduplicated pairs with no join; the component step runs on the PAIR graph (smaller than
    the corpus — only docs with a verified near-dup appear). When the
    pair graph fits ``connected_components``' driver threshold, its
    mapping is a driver dict and ``link.canonicalize`` rewrites the
    corpus ids through it in one narrow stage — no join, no gate. Above
    the threshold the mapping is a distributed frame, and the final
    assignment joins it against the corpus ids. On template-heavy web
    corpora the mapping is a large FRACTION of the corpus (every doc
    with a verified near-dup), so the join carries no hint: AQE picks
    the strategy from measured bytes (a broadcast under the threshold,
    a shuffle above) — never a forced corpus-fraction broadcast.
    """
    from .canon import _components
    from .link import canonicalize

    verified = (
        minhash_verified_pairs(
            docs, id_col, text_col, num_hashes, band_size, shingle_n, max_bucket
        )
        .filter(F.col("inter_size") * 100 >= F.col("union_size") * min_jaccard_pct)
        .select("id_a", "id_b")
    )
    mapping = _components(verified)
    if isinstance(mapping, dict):
        out = canonicalize(
            docs.select(id_col, F.col(id_col).alias("cluster_rep")),
            mapping,
            ["cluster_rep"],
        )
    else:
        m = mapping.select(
            F.col("id").alias("_mid"), F.col("canonical_id").alias("_rep")
        )
        out = (
            docs.select(id_col)
            .join(m, F.col(id_col) == F.col("_mid"), "left")
            .select(
                F.col(id_col),
                F.coalesce("_rep", F.col(id_col)).alias("cluster_rep"),
            )
        )
    return out.withColumn("is_rep", F.col("cluster_rep") == F.col(id_col))


def _round_half_up_4(x: "object"):
    """Vectorized replica of Spark's ``round(double, 4)``: BigDecimal
    HALF_UP on the shortest decimal representation. The fast path works
    on the binary value (floor(|x|·10⁴ + 0.5), away from zero); values
    whose scaled form sits within 1e-6 of a .5 boundary — where
    binary-value rounding can disagree with decimal-string rounding —
    take the exact ``Decimal(repr(x))`` path, which matches
    ``BigDecimal.valueOf(double).setScale(4, HALF_UP)`` digit-for-digit
    (both operate on the shortest round-trip decimal form)."""
    import numpy as np

    s = x * 1e4
    near_half = np.abs(s - np.floor(s) - 0.5) < 1e-6
    out = np.sign(s) * np.floor(np.abs(s) + 0.5) / 1e4
    if near_half.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.0001")
        idx = np.nonzero(near_half)[0]
        for i in idx:
            out[i] = float(
                Decimal(repr(float(x[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 4,
    seed: int = 13,
) -> DataFrame:
    """Cosine near-dup pairs above threshold, sign-LSH bucketed.

    Scale shape (mirrors the MinHash→Jaccard tier): every vector hashes
    to a sign-LSH bucket (narrow map), candidate pairs form only inside
    a bucket — grouped by the bucket key (one shuffle on a short
    string; no BroadcastNestedLoopJoin / cartesian over the corpus) —
    then the exact cosine verifies each candidate. Approximate by
    construction: pairs in different buckets are never compared
    (recall rises with fewer planes / multiple tables).

    Within-bucket scoring runs as ONE Arrow-batched ``applyInPandas``
    per bucket instead of a bucket-key self-join + per-pair interpreted
    JVM array folds: the earlier formulation shuffled every vector
    twice and evaluated three O(dim) ``F.aggregate`` lambdas per
    candidate pair (measured 277 s at sf1.0); here the pair loop is
    numpy over the bucket's vector block, a block of rows' pairs at a
    time (:func:`_pair_blocks`), so the pair indices and the
    pair-product matrix stay bounded — O(n) for an n-vector bucket, not
    O(n²). Bit-for-bit equivalence with the JVM
    formulation is preserved deliberately: dot products and norms fold
    left-to-right in float64 (``np.cumsum`` — sequential by
    definition, unlike pairwise ``np.sum``/``np.dot``) and the 4-dp
    rounding replicates BigDecimal HALF_UP via :func:`_round_half_up_4`.

    ``dim`` defaults to the first row's vector size; a row whose vector
    size differs from ``dim`` raises at runtime — ``zip_with`` would
    otherwise null-pad the plane dot products and silently collapse
    every row into one bucket (degenerating the join back to all-pairs).
    """
    from . import vector

    if dim is None:
        first = embeddings.select(F.size(F.col(vec_col)).alias("_d")).first()
        if first is None:
            dim = 1  # empty input: any planes work, output is empty
        else:
            dim = int(first["_d"])
    planes = vector.hyperplanes(dim, n_planes, seed)
    bucketed = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.when(
            F.size(F.col(vec_col)) == dim, vector.sign_bucket(vec_col, planes)
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding_near_duplicates: vector size != dim={dim}: "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        )
        .alias("_bkt"),
    )

    import numpy as np
    import pandas as pd

    id_t = embeddings.schema[id_col].dataType.simpleString()
    thr = float(threshold)
    # pairs per block: bounds the (block, dim) product matrix and, with
    # the blocks generated row by row, the candidate indices too
    pair_chunk = 1 << 16

    # prefilter margin: BLAS pairwise-summed dot vs the exact
    # left-to-right fold differ by ~dim·eps (≪1e-10); the rounding
    # boundary sits 5e-5 below the threshold; 2e-4 covers both with
    # orders of magnitude to spare, and false candidates only pay the
    # exact re-scoring below
    pre_thr = thr - 2e-4

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"cosine": "float64"}
            )
        ids = pdf["_id"].to_numpy()
        v = np.asarray(list(pdf["_v"]), dtype=np.float64)
        # left-to-right float64 norm fold, exactly the JVM aggregate
        nrm = np.sqrt(np.cumsum(v * v, axis=1)[:, -1])
        out_a, out_b, out_c = [], [], []
        for ii, jj in _pair_blocks(n, pair_chunk):
            with np.errstate(divide="ignore", invalid="ignore"):
                # GEMM prefilter: one BLAS row-wise dot per chunk culls
                # pairs far below threshold before the exact (and ~10×
                # costlier) sequential fold + decimal rounding
                approx = np.einsum("ij,ij->i", v[ii], v[jj]) / (
                    nrm[ii] * nrm[jj]
                )
                cand = approx >= pre_thr
                if not cand.any():
                    continue
                ii, jj = ii[cand], jj[cand]
                dot = np.cumsum(v[ii] * v[jj], axis=1)[:, -1]
                # zero-norm rows yield NaN, exactly like the JVM 0/0;
                # NaN fails every >= comparison and is dropped below
                cos = _round_half_up_4(dot / (nrm[ii] * nrm[jj]))
            # strict id inequality mirrors the join filter id_a < id_b
            # (duplicate-id inputs must not emit self-pairs)
            keep = (cos >= thr) & (ids[ii] != ids[jj])
            if keep.any():
                ia, ib = ids[ii[keep]], ids[jj[keep]]
                swap = ia > ib
                out_a.append(np.where(swap, ib, ia))
                out_b.append(np.where(swap, ia, ib))
                out_c.append(cos[keep])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return bucketed.groupBy("_bkt").applyInPandas(
        score_bucket, schema=f"id_a {id_t}, id_b {id_t}, cosine double"
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\n\n",
    join_sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4/CCNet
    boilerplate-removal pass): split every document on ``sep`` (a Java
    regex; default blank-line paragraphs), keep only the FIRST
    occurrence of each distinct paragraph across the whole corpus —
    first = smallest (``id_col``, position) — and reassemble each
    document from its surviving paragraphs in original order.
    Cookie banners, license headers and navigation chrome shared by
    thousands of pages survive exactly once, in the first document
    that carries them. Documents whose every paragraph was seen
    earlier disappear from the output.

    Returns (``id_col``, ``text_col``, n_kept) with paragraphs
    re-joined by ``join_sep``.

    Scale shape: two shuffles total. Candidate selection is a groupBy
    on ``md5(paragraph)`` whose ``min(struct(id, pos, paragraph))``
    aggregate combines MAP-SIDE, so a boilerplate paragraph repeated
    on 10⁷ pages contributes one row per input partition to the
    exchange, not 10⁷ — hot paragraphs (the very thing this operator
    exists for) cannot become hot shuffle keys. Reassembly never joins
    back to the corpus: the winning (id, pos, paragraph) rows ARE the
    output, one id-keyed shuffle away. The paragraph text crosses the
    wire once inside the min-struct; the 32-hex key replaces
    arbitrarily long paragraph keys.
    """
    parts = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"),
    ).filter(F.trim("_para") != "")
    # (_id, _pos) is unique, so _para never participates in the
    # ordering — it rides the struct to avoid a join back
    winners = parts.groupBy(F.md5(F.col("_para")).alias("_h")).agg(
        F.min(F.struct("_id", "_pos", "_para")).alias("_f")
    )
    return (
        winners.select(
            F.col("_f._id").alias(id_col),
            F.col("_f._pos").alias("_pos"),
            F.col("_f._para").alias("_para"),
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                    lambda s: s["_para"],
                ),
                join_sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )


def build_dedup_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """One maintained-store row per document: (id, fingerprint,
    sig_0..sig_{K-1}). ~300 bytes/doc — a billion-doc corpus keeps a
    ~300 GB store, shuffle-joinable and bucket-able by fingerprint,
    with no document text retained. Documents too short to shingle
    (< shingle_n tokens) carry NULL signatures and participate in the
    exact tier only. Append :func:`dedup_delta`'s unique survivors'
    rows after each batch to keep the store current.

    One Arrow-batched pass computes fingerprint AND signatures
    (:func:`_minhash_signer`) per doc — each reads the same text —
    replacing the earlier fingerprint-scan ⋈ signature-scan join: one
    id shuffle and one corpus scan fewer. ``py_fingerprint`` is the
    verified byte twin of ``tx.fingerprint``.
    """
    import pandas as pd

    id_t = docs.schema[id_col].dataType.simpleString()
    k = int(num_hashes)
    sign = _minhash_signer(k, int(shingle_n))
    nulls = [None] * k

    def run(batches):
        for pdf in batches:
            rows = [
                (did, tx.py_fingerprint(text), *(sign(text) or nulls))
                for did, text in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                rows,
                columns=[id_col, "fingerprint", *[f"sig_{i}" for i in range(k)]],
            )

    schema = ", ".join(
        [f"{id_col} {id_t}", "fingerprint string",
         *[f"sig_{i} string" for i in range(k)]]
    )
    return spread(docs.select(id_col, text_col)).mapInPandas(run, schema=schema)


def dedup_delta(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    min_matching_hashes: int = 6,
    max_bucket: int = 500,
) -> DataFrame:
    """Dedup a NEW batch against the maintained corpus store WITHOUT
    rescanning the corpus — the per-snapshot shape a production
    pipeline actually runs (each crawl drop dedups against all prior
    drops; re-running the batch dedup over corpus+delta would be
    O(corpus) per drop). Returns one row per new document:
    (id, status ∈ {exact, near, unique}, dup_of) where ``dup_of`` is
    the smallest matching store id (NULL for unique).

    Tiers:
    * **exact** — fingerprint equi-join against the store (one shuffle
      on a 16-byte key; the store side is corpus-sized and is NEVER
      broadcast).
    * **near** — exact-tier survivors band-join the store's signature
      bands (same banding as the batch LSH; hot STORE buckets dropped
      when a window's ``count(*) over (partition by band_id, band_key)``
      exceeds ``max_bucket``, the oracle's ``QUALIFY``), then
      near-dup is decided by SIGNATURE AGREEMENT: ≥
      ``min_matching_hashes`` of ``num_hashes`` minhash components
      equal. The store keeps no text, so the shingle-set verify of
      the batch path is unavailable by design; matching components
      estimate Jaccard as m/K (6/8 ≈ 0.75), the standard
      signature-store method. Deterministic: md5 minhashes are pure
      functions of the text.

    Batch-internal duplicates are out of scope by design — compose
    the existing batch operators over the delta first, then run the
    delta against the store.

    Scale shape: two key shuffles against the store (fingerprint,
    band key) + a bounded candidate join; nothing corpus-sized is
    ever broadcast, collected, or re-read as text.
    """
    old = "_store_id"
    nfp = new_docs.select(
        F.col(id_col), F.col(text_col), tx.fingerprint(text_col).alias("fingerprint")
    )
    exact = (
        nfp.join(
            store.select(F.col(id_col).alias(old), "fingerprint"), "fingerprint"
        )
        .groupBy(id_col)
        .agg(F.min(old).alias("_exact_of"))
    )
    survivors = nfp.join(exact, id_col, "left_anti")

    # lazy-materialize the survivor signatures: both the banding and
    # the agreement verify consume them, and without a barrier each
    # consumer would re-run the exact-tier anti join + signature pass
    # (delta-sized state — never corpus-sized)
    new_sigs = minhash_signatures(
        survivors, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    store_sigs = store.filter(F.col("sig_0").isNotNull()).select(
        F.col(id_col).alias(old), *[f"sig_{i}" for i in range(num_hashes)]
    )
    bucket = Window.partitionBy("band_id", "band_key")
    store_bands = (
        _bands_from_sigs(store_sigs, old, num_hashes, band_size)
        .withColumn("_bn", F.count(F.lit(1)).over(bucket))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    new_bands = _bands_from_sigs(new_sigs, id_col, num_hashes, band_size)
    cand = (
        new_bands.join(store_bands, ["band_id", "band_key"])
        .select(id_col, old)
        .distinct()
    )
    o_sigs = store_sigs.select(
        old, *[F.col(f"sig_{i}").alias(f"_o_sig_{i}") for i in range(num_hashes)]
    )
    matches = sum(
        F.when(F.col(f"sig_{i}") == F.col(f"_o_sig_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    near = (
        cand.join(new_sigs, id_col)
        .join(o_sigs, old)
        .filter(matches >= int(min_matching_hashes))
        .groupBy(id_col)
        .agg(F.min(old).alias("_near_of"))
    )
    return (
        new_docs.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("_near_of").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce("_exact_of", "_near_of").alias("dup_of"),
        )
    )

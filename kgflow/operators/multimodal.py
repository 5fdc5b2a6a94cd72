"""Multimodal (image) columns: binary payloads with typed metadata.

The reference is text-only (its closest analogue is the binary-blob
abstract handling in ``neo4j_pubmed_batch_embeddings_processor.py``);
a training-data pipeline additionally carries images/audio/video as
opaque ``binary`` columns and needs decode → feature → dedup over
them. The Spark-side plumbing here is real — binary column in, Arrow-
batched ``mapInPandas``, typed schema out, then the SAME pigeonhole
banding machinery the text SimHash tiers use (``dedup.signature_*``).

The pixel DECODE is a deterministic stub: no image codec ships in
this container, so after genuinely parsing the PNG signature + IHDR
from the bytes, the 8×8 luminance grid a real decoder would produce
is synthesized as a pure function of the parsed header (a coarse
class pattern plus a fine-position flip). Swap ``_stub_pixels`` for a
``PIL.Image``/``cv2`` decode + grayscale resize on a real deployment;
everything downstream (mean threshold, bit packing, banding, verify)
is format-independent and stays as-is.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def synth_png_payload(doc_id: Column | str) -> Column:
    """A valid PNG signature + IHDR chunk as a binary column, built
    JVM-side (hex concat + to_binary + crc32; the CRC is the genuine
    PNG chunk CRC over type+data). Width/height are deterministic
    functions of the id, so an engine-independent oracle can recompute
    them. Shared by the decode and pHash queries."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    width = (F.lit(64) + c % 192).cast("long")
    height = (F.lit(64) + (c * 7) % 128).cast("long")
    ihdr = F.concat(
        F.lpad(F.hex(width), 8, "0"),
        F.lpad(F.hex(height), 8, "0"),
        F.lit("0802000000"),  # bit depth 8, color type 2 (RGB), no interlace
    )
    crc = F.crc32(F.to_binary(F.concat(F.lit("49484452"), ihdr), F.lit("hex")))
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),  # PNG signature
        F.lit("0000000D"),  # IHDR length = 13
        F.lit("49484452"),  # 'IHDR'
        ihdr,
        F.lpad(F.hex(crc), 8, "0"),
    )
    return F.to_binary(png_hex, F.lit("hex"))


def png_size(b: bytes) -> tuple[int, int]:
    """(width, height) from a payload that starts with the PNG signature
    and a complete IHDR chunk (33 bytes with its CRC); ``ValueError``
    for anything else. The one header rule of every PNG decode here."""
    if len(b) < 33 or b[:8] != PNG_SIG or b[12:16] != b"IHDR":
        raise ValueError("payload is not a PNG IHDR header")
    return struct.unpack(">II", b[16:24])


def _stub_pixels(w: int, h: int) -> list[int]:
    """Deterministic 8×8 luminance grid from the parsed header — the
    stand-in for a real decode+resize (see module docstring). A coarse
    (w//8, h//8) class sets the base bit pattern; one fine-position
    cell (w%8, h%8) is flipped, so images of the same class but
    different exact dimensions land within hamming 2 of each other —
    the near-duplicate structure a perceptual hash exists to find."""
    c0 = (w % 8) + 8 * (h % 8)
    base = (w // 8) * 31 + (h // 8) * 17
    return [
        200 * ((((base + c * 40503) % 97) % 2) ^ (1 if c == c0 else 0))
        for c in range(64)
    ]


def image_average_hash(
    images: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """64-bit average hash (aHash) per image: decode → 8×8 luminance
    grid → bit c = pixel_c > mean(grid) → signed-long packing (bit 64
    carries −2⁶³, same two's-complement convention as
    ``dedup.simhash64``, so the signature is one BIGINT on any engine).

    Scale shape: one Arrow-batched ``mapInPandas`` — a narrow map, no
    shuffle; payload bytes never leave the executor. Returns
    (id_col, width, height, phash). The stub decode + mean-threshold +
    bit packing run as one vectorized numpy block per batch (exact
    integer arithmetic — values identical to the per-pixel loop),
    after the byte-level header validation per image."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def ahash(batches):
        cells = np.arange(64, dtype=np.int64)
        pow_ = 1 << np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, ws, hs = [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                w, h = png_size(bytes(b))
                ids.append(did)
                ws.append(w)
                hs.append(h)
            if not ids:
                yield pd.DataFrame(
                    {id_col: pd.Series([], dtype="int64"),
                     "width": pd.Series([], dtype="int64"),
                     "height": pd.Series([], dtype="int64"),
                     "phash": pd.Series([], dtype="int64")}
                )
                continue
            wv = np.asarray(ws, dtype=np.int64)[:, None]
            hv = np.asarray(hs, dtype=np.int64)[:, None]
            # _stub_pixels, vectorized: (n, 64) luminance grid
            c0 = (wv % 8) + 8 * (hv % 8)
            base = (wv // 8) * 31 + (hv // 8) * 17
            px = 200 * (
                (((base + cells * 40503) % 97) % 2) ^ (cells == c0)
            )
            # pixel > row mean → bit set; 64·p > Σp avoids any float
            bits = (64 * px) > px.sum(axis=1, keepdims=True)
            sigs = (bits.astype(np.uint64) * pow_).sum(axis=1).view(np.int64)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "phash": pd.Series(sigs, dtype="int64"),
                }
            )

    return images.select(id_col, payload_col).mapInPandas(
        ahash, schema=f"{id_col} long, width long, height long, phash long"
    )


def image_resize(
    images: DataFrame,
    box_w: int = 32,
    box_h: int = 32,
    thumb: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Aspect-preserving fit-into-box resize plumbing: parse the PNG
    header (real bytes), compute the target dimensions in PURE INTEGER
    arithmetic (so any engine reproduces them exactly: the binding
    side is ``w*box_h <= h*box_w``, the other side scales by integer
    ratio, never upscaled), and emit a ``thumb``×``thumb``
    nearest-neighbor luminance thumbnail resampled from the decoded
    grid (stub decode, see module docstring — swap for a real codec;
    the resample indexing is the part a deployment keeps).

    Scale shape: one Arrow-batched ``mapInPandas``, narrow map, no
    shuffle. Returns (id, width, height, new_width, new_height,
    thumb array<int> row-major)."""
    import pandas as pd  # noqa: PLC0415

    def fit(w: int, h: int) -> tuple[int, int]:
        if w * box_h <= h * box_w:  # height is the binding side
            nh = min(h, box_h)
            return max(1, w * nh // h), nh
        nw = min(w, box_w)
        return nw, max(1, h * nw // w)

    def resize(batches):
        for pdf in batches:
            ids, ws, hs, nws, nhs, thumbs = [], [], [], [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                w, h = png_size(bytes(b))
                nw, nh = fit(w, h)
                px = _stub_pixels(w, h)
                # nearest-neighbor over the 8x8 decoded grid, row-major
                grid = [
                    px[(tx * 8 // thumb) + 8 * (ty * 8 // thumb)]
                    for ty in range(thumb)
                    for tx in range(thumb)
                ]
                ids.append(did)
                ws.append(w)
                hs.append(h)
                nws.append(nw)
                nhs.append(nh)
                thumbs.append(grid)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int64"),
                    "height": pd.Series(hs, dtype="int64"),
                    "new_width": pd.Series(nws, dtype="int64"),
                    "new_height": pd.Series(nhs, dtype="int64"),
                    "thumb": pd.Series(thumbs, dtype="object"),
                }
            )

    return images.select(id_col, payload_col).mapInPandas(
        resize,
        schema=(
            f"{id_col} long, width long, height long, "
            "new_width long, new_height long, thumb array<int>"
        ),
    )


KGV_SIG = b"KGV0"


def synth_video_payload(doc_id: Column | str) -> Column:
    """A minimal video container header as a binary column, built
    JVM-side: 'KGV0' magic + n_frames (uint32 BE) + fps (uint16 BE).
    Frame count and rate are deterministic functions of the id so an
    engine-independent oracle recomputes them."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    n_frames = (F.lit(10) + c % 240).cast("long")
    fps = (F.lit(12) + (c * 3) % 18).cast("long")
    return F.to_binary(
        F.concat(
            F.lit("4B475630"),  # 'KGV0'
            F.lpad(F.hex(n_frames), 8, "0"),
            F.lpad(F.hex(fps), 4, "0"),
        ),
        F.lit("hex"),
    )


def video_frame_sample(
    videos: DataFrame,
    n_sample: int = 8,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Uniform frame sampling: parse the container header (real bytes),
    pick ``n_sample`` frame indices spread endpoint-inclusive across
    [0, n_frames) — ``k*(n_frames-1)//(n_sample-1)``, all frames when
    the clip is shorter — and emit one row per SELECTED frame. That
    selection-before-decode order is the point of frame sampling: a
    real deployment seeks to the chosen frames and decodes only those,
    so the per-frame decode cost is O(n_sample), not O(n_frames).
    ``frame_key`` stands in for the decoded frame's fingerprint as a
    portable integer; swap for the pHash of the decoded frame bytes on
    a real deployment (then ``phash_near_pairs``' banding dedups the
    frames).

    Scale shape: one Arrow-batched ``mapInPandas`` emitting ≤
    ``n_sample`` rows per input row — narrow map, no shuffle."""
    import pandas as pd  # noqa: PLC0415

    def sample(batches):
        for pdf in batches:
            ids, idxs, tss, keys, nfs, fpss = [], [], [], [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(b)
                if b[:4] != KGV_SIG:
                    raise ValueError("payload is not a KGV0 header")
                n_frames, fps = struct.unpack(">IH", b[4:10])
                if n_frames <= n_sample:
                    sel = range(n_frames)
                else:
                    sel = sorted(
                        {
                            k * (n_frames - 1) // (n_sample - 1)
                            for k in range(n_sample)
                        }
                    )
                for fi in sel:
                    ids.append(did)
                    idxs.append(fi)
                    tss.append(fi * 1000 // fps)
                    keys.append((did * 1000003 + fi) % 2147483647)
                    nfs.append(n_frames)
                    fpss.append(fps)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_key": pd.Series(keys, dtype="int64"),
                    "n_frames": pd.Series(nfs, dtype="int64"),
                    "fps": pd.Series(fpss, dtype="int64"),
                }
            )

    return videos.select(id_col, payload_col).mapInPandas(
        sample,
        schema=(
            f"{id_col} long, frame_idx long, ts_ms long, "
            "frame_key long, n_frames long, fps long"
        ),
    )


def synth_pcm_payload_py(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic 16-bit little-endian PCM audio per doc (sample i
    of doc d is ``((d*2654435761 + i*40503 + 32768) % 65536)`` as a
    uint16 wire value, clip length ``512 + d % 256``), synthesized with one
    vectorized numpy expression per clip instead of a per-sample
    interpreted hex/concat JVM expression (~0.4 ms/clip there — the
    dominant cost of the audio query, guide §4.2). Returns
    (id_col, payload binary); byte-for-byte equal to the JVM builder
    the tests keep (``tests/reference.py``).
    """
    import numpy as np
    import pandas as pd

    id_t = docs.schema[id_col].dataType.simpleString()

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[id_col]:
                d = int(did)
                n = 512 + d % 256
                vals = (
                    d * 2654435761 + np.arange(n, dtype=np.int64) * 40503 + 32768
                ) % 65536
                ids.append(did)
                payloads.append(vals.astype("<u2").tobytes())
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return docs.select(id_col).mapInPandas(
        synth, schema=f"{id_col} {id_t}, payload binary"
    )


def audio_frame_energy(
    audio: DataFrame,
    frame: int = 128,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-frame audio energy: parse little-endian int16 PCM bytes
    (real ``numpy.frombuffer`` decode — this operator's decode is NOT
    stubbed; the waveform is synthetic but the byte format is the real
    one), window into full ``frame``-sample frames (trailing partial
    frame dropped), and emit exact-integer ``sum_sq`` (Σ x²) and
    ``peak`` (max |x|) per frame — the VAD/clipping/silence-gate
    signals an audio curation pipeline filters on, kept as integers so
    any engine matches bit-for-bit. int16 is widened to int64 before
    abs/square (|-32768| overflows int16).

    Scale shape: one Arrow-batched ``mapInPandas`` emitting
    n_samples//frame rows per clip — narrow map, no shuffle; PCM bytes
    never leave the executor."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def energy(batches):
        for pdf in batches:
            ids, fidx, sums, peaks, ns = [], [], [], [], []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                x = np.frombuffer(bytes(b), dtype="<i2").astype(np.int64)
                n_full = len(x) // frame
                if n_full == 0:
                    continue
                # all frames of the clip in one reshape — exact int64
                # sums/maxes, no per-frame Python loop
                segs = x[: n_full * frame].reshape(n_full, frame)
                ids.extend([did] * n_full)
                fidx.extend(range(n_full))
                sums.extend((segs * segs).sum(axis=1).tolist())
                peaks.extend(np.abs(segs).max(axis=1).tolist())
                ns.extend([len(x)] * n_full)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "sum_sq": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                }
            )

    return audio.select(id_col, payload_col).mapInPandas(
        energy,
        schema=(
            f"{id_col} long, frame_idx long, sum_sq long, "
            "peak long, n_samples long"
        ),
    )


def phash_near_pairs(
    images: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Image near-duplicate pairs: hamming ≤ ``max_hamming`` on the
    64-bit aHash, via the SAME pigeonhole banding + hot-bucket cap +
    bit_count(xor) verify as the text tiers (``dedup.signature_near_
    pairs``) — dedup is one machinery across modalities; only the
    signature function is modality-specific."""
    from . import dedup

    sigs = image_average_hash(images, id_col, payload_col).select(id_col, "phash")
    return dedup.signature_near_pairs(
        sigs, id_col, "phash", max_hamming, 64, max_bucket
    )

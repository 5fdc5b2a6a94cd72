"""Reference implementations the tests compare kgflow against: exact or
JVM-side twins of product operators, and the triple P/R measure."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgflow.operators import vector


def precision_recall(
    got: set[tuple[str, str, str]], expected: set[tuple[str, str, str]]
) -> tuple[float, float]:
    """(precision, recall) of a triple set against the pandas oracle's;
    (0, 0) when either set is empty."""
    if not got or not expected:
        return (0.0, 0.0)
    tp = len(got & expected)
    return tp / len(got), tp / len(expected)


def embedding_near_duplicates_exact(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs exact twin of ``dedup.embedding_near_duplicates`` —
    O(n²), small inputs and recall measurement only."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(vector.cosine("v_a", "v_b"), 4).alias("cosine")
    )
    return scored.filter(F.col("cosine") >= threshold)


def synth_pcm_payload(doc_id: Column | str) -> Column:
    """JVM-side twin of ``multimodal.synth_pcm_payload_py``: deterministic
    16-bit little-endian PCM audio as a binary column, sample i of doc d
    is ``((d*2654435761 + i*40503) % 65536) - 32768`` — pure integer
    arithmetic an engine-independent oracle reproduces. Clip length
    ``512 + d % 256`` samples."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    n = (F.lit(512) + c % 256).cast("int")

    def u(i: Column) -> Column:
        # two's-complement int16 of (raw - 32768): adding 32768 mod 2^16
        # maps the signed sample onto its unsigned wire representation
        return F.pmod(c * 2654435761 + i.cast("long") * 40503 + 32768, F.lit(65536))

    return F.to_binary(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat(  # little-endian int16
                    F.lpad(F.hex(u(i) % 256), 2, "0"),
                    F.lpad(F.hex(F.floor(u(i) / 256).cast("long")), 2, "0"),
                ),
            ),
            "",
        ),
        F.lit("hex"),
    )

"""Custom stateful streaming operator: cross-batch NEXT_TURN edges.

``incremental.incremental_extract`` requires conversation-complete file
drops because turn adjacency is computed within a micro-batch. This
module lifts that restriction with ``applyInPandasWithState``: per-conv
state remembers the last turn index seen, so a conversation streamed
across many drops still emits every adjacency edge exactly once.

Arrival contract (natural for append-only transcript logs): within a
conversation, turns arrive in non-decreasing ``turn_idx`` order across
drops. Late out-of-order turns are counted in ``late_dropped`` state
rather than emitting retractions (append sinks cannot retract).

This is the ``applyInPandasWithState`` shape the reference lacks any
analogue for — its closest idiom is the polled work queue
(neo4j_pubmed_batch_embeddings_processor.py:495-506), which cannot see
cross-record adjacency at all.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import schemas

_OUT = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

#: (last_turn_idx, n_turns_seen, late_dropped)
_STATE = T.StructType(
    [
        T.StructField("last_idx", T.IntegerType(), True),
        T.StructField("n_seen", T.LongType(), True),
        T.StructField("late", T.LongType(), True),
    ]
)


def _next_turn_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    last_idx, n_seen, late = state.get if state.exists else (None, 0, 0)
    edges: list[tuple[str, str, str]] = []
    idxs: list[int] = []
    for pdf in pdfs:
        idxs.extend(int(x) for x in pdf["turn_idx"])
    idxs.sort()
    for idx in idxs:
        if last_idx is None:
            last_idx = idx
        elif idx > last_idx:
            edges.append(
                (f"turn:{conv_id}:{last_idx}", "NEXT_TURN", f"turn:{conv_id}:{idx}")
            )
            last_idx = idx
        elif idx == last_idx:
            continue  # duplicate delivery — idempotent skip
        else:
            late += 1
        n_seen += 1
    state.update((last_idx, n_seen, late))
    if edges:
        yield pd.DataFrame(edges, columns=["subj", "pred", "obj"])


def stateful_next_turn(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
) -> DataFrame:
    """Drain new transcript files (availableNow) emitting cross-batch
    NEXT_TURN edges; returns the accumulated edge table."""
    stream = (
        spark.readStream.schema(schemas.TRANSCRIPT)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_dir)
    )
    edges = (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _next_turn_fn,
            outputStructType=_OUT,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        edges.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "next_turn"))
        .option("checkpointLocation", os.path.join(out_dir, "_next_turn_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(edges.schema)
        .parquet(os.path.join(out_dir, "next_turn"))
        .dropDuplicates(["subj", "pred", "obj"])
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("dup_of", T.LongType(), True),
    ]
)

#: first-seen canonical owner of this fingerprint
_DEDUP_STATE = T.StructType([T.StructField("owner", T.LongType(), True)])


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (owner,) = state.get if state.exists else (None,)
    ids: list[int] = []
    for pdf in pdfs:
        ids.extend(int(x) for x in pdf["doc_id"])
    ids.sort()
    rows: list[tuple[int, str, Any]] = []
    for i in ids:
        if owner is None:
            owner = i
            rows.append((i, "unique", None))
        elif i == owner:
            continue  # replay of the canonical row — idempotent skip
        else:
            rows.append((i, "exact", owner))
    state.update((owner,))
    if rows:
        yield pd.DataFrame(rows, columns=["doc_id", "status", "dup_of"])


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Cross-batch exact-tier delta dedup: the streaming twin of
    ``dedup.dedup_delta``'s fingerprint tier, with the maintained
    store living IN keyed stream state instead of a table. Each
    micro-batch's documents group by md5 fingerprint (computed
    JVM-side before the stateful step); per-fingerprint state
    remembers the FIRST-SEEN canonical doc id, so a document that
    duplicates any earlier drop — not just this one — is emitted as
    (doc_id, 'exact', dup_of=first owner), and first occurrences as
    (doc_id, 'unique', NULL). Exactly-once effect on replays: a
    re-delivered canonical row is skipped, and re-delivered dup rows
    re-emit the same verdict.

    Exact tier only, by design: the near tier's band join needs a
    secondary index across keys, which keyed stream state cannot
    express — run the batch ``dedup_delta`` against the store for
    near-dup sweeps. State size: one long per distinct fingerprint,
    hash-partitioned across executors by the state store — the same
    ~O(corpus distinct texts) the batch store pays, with no text
    retained."""
    from ..functions import text as tx

    src = spark.readStream
    if schema is None:
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
    stream = (
        src.schema(schema).option("maxFilesPerTrigger", "64").parquet(input_dir)
    )
    verdicts = (
        stream.select("doc_id", tx.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=_DEDUP_OUT,
            stateStructType=_DEDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        verdicts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "dedup_verdicts"))
        .option(
            "checkpointLocation", os.path.join(out_dir, "_dedup_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(verdicts.schema)
        .parquet(os.path.join(out_dir, "dedup_verdicts"))
        .dropDuplicates(["doc_id"])
    )

"""Per-stage scaling attribution: times each KG-pipeline stage in
isolation at two core counts, so a sub-0.8 end-to-end efficiency can be
attributed to the stage that loses parallelism (VERDICT r1 item 8).

Stages are isolated with localCheckpoint so a stage's timing never
re-executes its upstream. Fresh JVM per core level (subprocess), one
untimed warm pass per stage.

Usage: python3 tools/scaling_stages.py [turns_path] [lo,hi]
Prints one JSON line with per-stage seconds at both levels + ratios.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from kgflow.session import get_spark
from kgflow import synth
from kgflow.plans import pipeline as P
from kgflow.operators import extract

cores = int(sys.argv[1]); path = sys.argv[2]
spark = get_spark("stages-%%d" %% cores, master="local[%%d]" %% cores,
                  shuffle_partitions=max(cores, 8))
terms, isa = synth.lexicon_dataframes(spark, 300, seed=7)
lex = P.prepare_lexicon(terms)
tr = spark.read.parquet(path)
tr.count()

def timed(fn):
    fn()            # warm (python workers, codegen)
    t0 = time.time(); fn(); return round(time.time() - t0, 3)

out = {"cores": cores}

# stage 1: fused mention extraction + linking + canonical rewrite,
# grouped per turn: the extraction kernel alone, narrow, on the input
# partitioning
grouped = extract.extract_linked_terms_grouped(tr, lex.surface_map, lex.canon_map)
out["extract_link_canon"] = timed(lambda: grouped.count())

# stage 2: the pipeline's transcript triples: one exchange clusters the
# turns by conversation, then the same kernel emits every family
# distinct per conversation
conv_triples = P._conversation_triples(tr, lex)
out["conversation_triples"] = timed(lambda: conv_triples.count())

# stage 3: sequence packing under the documented 100 TB shard story
# (sample.py stream_cols): a fixed 64-way conv-hash shard column is the
# parallelism unit, so no single stream serializes the prefix-sum
# window — packing must scale with cores like any other stage. Work is
# identical at both levels (shard count fixed, independent of cores).
from kgflow.operators import sample
docs = tr.select(
    F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
    F.pmod(F.xxhash64("conv_id"), F.lit(64)).alias("shard"),
    "text",
)
packed = sample.pack_sequences(docs, budget=2048, stream_cols=["shard"])
# agg over the window outputs so the optimizer cannot prune the
# prefix-sum away (a bare count() skips the whole window)
out["pack_shards"] = timed(lambda: packed.agg(
    F.max("bin_id"), F.bit_xor(F.xxhash64("doc_id", "bin_id", "bin_offset"))
).collect())

# stage 4: dedup tier — MinHash signatures -> banded LSH pairing ->
# integer-Jaccard verify, the full near-dup chain. The corpus is a
# DIVERSE synthetic one (40 md5-derived tokens per doc, one doc per
# 20 input turns, ~3%% planted near-dups at Jaccard ~0.95): docs
# built by concatenating lexicon-generated turns are pathologically
# self-similar — every doc collides into every LSH bucket and the
# in-bucket self-join explodes (measured: 130 GB of shuffle spill at
# 400k conv-docs), which benchmarks the blow-up, not the operator.
# Diverse text gives bucket occupancy ~1, the shape the LSH design
# targets and the only one a real curation corpus presents at scale.
# Construction is checkpointed OUTSIDE the timing at a FIXED 64-way
# layout so both core levels hash identical bytes; the stage measures
# the chain itself: shingle explode + 8 md5 minhashes, band-key
# shuffle, in-bucket self-join, pair dedup, shingle-set verify join.
from kgflow.operators import dedup
n_docs = tr.count() // 20
_seed = F.when(
    (F.col("doc_id") %% 33 == 0) & (F.col("doc_id") > 0),
    F.col("doc_id") - 1,
).otherwise(F.col("doc_id")).cast("string")
_toks = F.transform(
    F.sequence(F.lit(1), F.lit(40)),
    lambda i: F.substring(
        F.md5(F.concat_ws("|", F.lit("sd"), _seed, i.cast("string"))), 1, 8
    ),
)
_toks = F.when(
    F.col("doc_id") %% 33 == 0,
    F.concat(
        F.slice(_toks, 1, 39),
        F.array(F.concat(F.lit("dx"), F.col("doc_id").cast("string"))),
    ),
).otherwise(_toks)
docs8 = (
    spark.range(n_docs)
    .select(F.col("id").alias("doc_id"))
    .repartition(64)
    .select("doc_id", F.array_join(_toks, " ").alias("text"))
    .localCheckpoint(eager=True)
)
pairs8 = dedup.minhash_lsh_pairs(docs8)
ver8 = dedup.jaccard_verify(docs8, pairs8)
out["dedup_pairs"] = timed(lambda: ver8.agg(
    F.count(F.lit(1)),
    F.bit_xor(F.xxhash64("id_a", "id_b", "inter_size", "union_size")),
).collect())

# stage 5: full DAG incl. final global dedup shuffle (end-to-end)
out["full_dag"] = timed(lambda: P.build_triples(tr, terms, isa, lex=lex).count())

print(json.dumps(out))
spark.stop()
"""


def run_level(cores: int, path: str) -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = "/root/.pyenv/shims/python3"
    # one shared JVM heap serves all N task threads in local mode; size
    # it for the high level and give BOTH levels the same heap (a real
    # 16-core executor carries proportional memory — 2-8 GB/core)
    env.setdefault("KGFLOW_DRIVER_MEM", "24g")
    out = subprocess.run(
        ["/root/.pyenv/shims/python3", "-c", _CHILD % {"repo": REPO}, str(cores), path],
        capture_output=True, text=True, env=env,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:] + "\n")
        raise SystemExit(f"level {cores} failed rc={out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kgflow_bench/transcripts_8000000_t300"
    lo, hi = (int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "4,16").split(","))
    r_lo = run_level(lo, path)
    r_hi = run_level(hi, path)
    ratio = hi / lo
    stages = [k for k in r_lo if k != "cores"]
    result = {
        "metric": f"stage_scaling_{lo}_to_{hi}",
        "lo": r_lo,
        "hi": r_hi,
        "efficiency": {
            k: round((r_lo[k] / r_hi[k]) / ratio, 3) if r_hi[k] else None
            for k in stages
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

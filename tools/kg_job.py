"""spark-submit entry point for the KG-construction pipeline.

The deployment surface the north rule names: package the library and
submit —

    zip -r kgflow.zip kgflow
    spark-submit --master <cluster> --py-files kgflow.zip \
        tools/kg_job.py --transcripts s3://.../transcripts \
        --terms s3://.../terms --isa s3://.../isa --out s3://.../kg \
        --buckets 4096 --resumable

The job never sets a master itself (``get_spark(master="")``), so the
cluster manager chosen on the spark-submit command line — YARN, k8s,
standalone, local-cluster — is preserved. All heavy work is the same
``kgflow.plans`` DAG the tests and benchmarks run; this file is only
argument parsing + sinks.

Modes
-----
* default         one-shot: triples + node table parquet under --out
* --resumable     bucket-ledger run (kgflow.plans.checkpoint): safe to
                  re-submit after a failure, finished buckets skip
* --prov          emit per-triple provenance props (family, n_obs,
                  n_convs, first_seen_run) instead of the bare triple set
* --doc-stats     documents-table mode: incremental per-doc
                  fingerprint/token/quality/language maintenance
                  (streaming.incremental_doc_stats over --docs)
* --synth-turns N no --transcripts/--terms given: deterministic
                  synthetic input (smoke-testing a new cluster)

Reference analogue: the per-source importer mains
(neo4j_cancerkg_builder.py:393-420) — collapsed into one parameterized
job because every source family is a DataFrame transform here, not a
script.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kgflow KG-construction job")
    ap.add_argument("--transcripts", help="parquet path: conv_id, turn_idx, role, text, tool, ts")
    ap.add_argument("--terms", help="parquet path: lexicon term table")
    ap.add_argument("--isa", help="parquet path: ontology isa edge table")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=256, help="conv_id hash buckets (resumable mode)")
    ap.add_argument("--resumable", action="store_true", help="ledger-checkpointed run")
    ap.add_argument("--prov", action="store_true", help="emit provenance props per triple")
    ap.add_argument("--synth-turns", type=int, default=0, help="synthesize N turns instead of reading --transcripts")
    ap.add_argument("--synth-terms", type=int, default=300, help="synthetic lexicon size")
    ap.add_argument("--run-id", default=None, help="provenance run id (default: timestamp)")
    ap.add_argument("--doc-stats", action="store_true", help="incremental doc-stats maintenance over --docs")
    ap.add_argument("--docs", help="parquet dir of documents (doc_stats mode)")
    args = ap.parse_args(argv)

    from kgflow.session import get_spark
    from kgflow.plans import pipeline as P

    spark = get_spark("kgflow-job", master="")
    t0 = time.time()

    if args.doc_stats:
        if not args.docs:
            ap.error("--docs required with --doc-stats")
        from kgflow.streaming import incremental

        n = incremental.incremental_doc_stats(spark, args.docs, args.out)
        stats = incremental.read_doc_stats(spark, args.out)
        summary = {
            "mode": "doc_stats",
            "batches": n,
            "docs_tracked": stats.count() if stats is not None else 0,
            "wall_sec": round(time.time() - t0, 2),
        }
        print(json.dumps(summary))
        spark.stop()
        return 0

    if args.synth_turns:
        from kgflow import synth

        terms, isa = synth.lexicon_dataframes(spark, args.synth_terms, seed=7)
        terms_pdf, _ = synth.make_lexicon(args.synth_terms, seed=7)
        tr = synth.transcripts(
            spark,
            args.synth_turns,
            max(args.synth_turns // 20, 1),
            lexicon_pdf=terms_pdf,
            seed=42,
        )
    else:
        if not (args.transcripts and args.terms and args.isa):
            ap.error("--transcripts/--terms/--isa required unless --synth-turns")
        tr = spark.read.parquet(args.transcripts)
        terms = spark.read.parquet(args.terms)
        isa = spark.read.parquet(args.isa)

    if args.resumable:
        from kgflow.plans import checkpoint as cp

        report = cp.run_resumable(spark, tr, terms, isa, args.out, buckets=args.buckets)
        summary = {
            "mode": "resumable",
            "run_id": report.run_id,
            "buckets_total": report.total_buckets,
            "buckets_run": report.processed_buckets,
            "buckets_skipped": report.skipped_buckets,
            "triples_written": report.triples_out,
        }
    else:
        run_id = args.run_id or f"run-{int(t0 * 1000)}"
        if args.prov:
            triples = P.build_triples_prov(tr, terms, isa, run_id=run_id)
        else:
            triples = P.build_triples(tr, terms, isa)
        triples.write.mode("overwrite").parquet(args.out + "/triples")
        triples_back = spark.read.schema(triples.schema).parquet(args.out + "/triples")
        nodes = P.build_nodes(
            triples_back.select("subj", "pred", "obj"), terms
        )
        nodes.write.mode("overwrite").parquet(args.out + "/nodes")
        summary = {
            "mode": "prov" if args.prov else "oneshot",
            "run_id": run_id,
            "triples_written": triples_back.count(),
            "nodes_written": spark.read.schema(nodes.schema).parquet(args.out + "/nodes").count(),
        }

    summary["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

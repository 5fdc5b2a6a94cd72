"""kgflow — a PySpark-native knowledge-graph construction engine.

Re-expresses the pipeline semantics of the reference system
(fcriscuo/BioOntologyKG: Python + Neo4j + Cypher biomedical KG importers)
as idiomatic Spark DataFrame programs:

* transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` →
  vectorized mention detection → ``(subj, pred, obj)`` triple extraction →
  entity linking through driver-side lexicon maps → connected-components
  canonicalization → idempotent node/edge materialization with
  per-partition lineage checkpoints.

Package layout
--------------
``session``    SparkSession factory (AQE, Arrow, tuned shuffles)
``schemas``    StructTypes of the pipeline's input tables
``synth``      deterministic distributed synthetic-data generators
``sources``    readers/sinks re-expressing the reference's LOAD CSV family
``operators``  extraction, linking, canonicalization, dedup, graph, vector
``functions``  scalar/column function library (splits, hygiene, hashing,
               minhash/simhash, text quality, token stats)
``plans``      end-to-end pipeline DAG, checkpoint ledger, materialize
``streaming``  incremental (availableNow) wrappers
"""

__version__ = "0.1.0"

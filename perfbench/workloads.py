"""The benchmark workloads.

Each workload is a closed loop with one client: ``op`` runs one
operation and returns the number of input rows it read; the next starts
only when it returns. ``prepare`` is one
repetition of input preparation (generate the seeded inputs, write
them and reset any state the operations keep); ``check`` verifies the
last operation's output against an independent expectation and
``check_end`` what the operations accumulated, once after the last one;
neither is timed. ``corrupt`` damages the last output so the smoke test
can prove that ``check`` catches it.

The provenance snapshot is compared as an order-insensitive
fingerprint: the row count and the xor of ``xxhash64`` over the
compared columns.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow import reference_oracle, schemas
from kgflow.plans import checkpoint
from kgflow.plans import pipeline as P
from kgflow.streaming import incremental

from . import inputs

# The declared queries the query_suite runs, with the testdata tables each reads.
QUERIES = {
    "dedup_cluster_assign": ("documents",),
    "embedding_neardup": ("embeddings",),
    "topk_per_group": ("orders",),
}

TRIPLE_COLS = ["subj", "pred", "obj"]
PROV_COLS = TRIPLE_COLS + ["family", "n_obs", "n_convs"]
N_TERMS = 300
BUCKETS = 32


def fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("x")
    ).first()
    return int(row["n"]), int(row["x"] or 0)


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_lexicon(terms: pd.DataFrame, isa: pd.DataFrame, out: str) -> None:
    for name, pdf in (("terms", terms), ("isa", isa)):
        os.makedirs(f"{out}/{name}")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f"{out}/{name}/part-0.parquet")


def _write_partitioned(pdf: pd.DataFrame, path: str, by: str) -> None:
    """Parquet dataset with one ``<by>=<value>`` directory per value."""
    pq.write_to_dataset(pa.Table.from_pandas(pdf, preserve_index=False), path, partition_cols=[by])


def _corrupt_triples(spark, path: str) -> None:
    """Add one bogus triple file to a triples directory."""
    spark.createDataFrame([("turn:x:0", "MENTIONS", "KG:bogus")], TRIPLE_COLS).write.mode(
        "append"
    ).parquet(path)


class Workload:
    tracer = None  # set by the runner while a traced operation runs

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self._oracle: dict = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check_end(self) -> bool:
        """Checks of state the operations accumulate, made once after
        the last operation."""
        return True


class KgUpdate(Workload):
    """One update cycle of a knowledge graph that kgflow maintains:

    * ``checkpoint.run_resumable(buckets=32)`` on the other of two input
      versions that differ by a text edit in 4 buckets, so exactly those
      4 buckets re-run and the rest are skipped (the first operation, the
      set-up's warm-up, finds no ledger and runs every bucket);
    * ``build_nodes`` over the resumable triple set, written to parquet
      (the second half of ``tools/kg_job.py``'s one-shot path);
    * landing the next of 8 conversation-complete drops (the input split
      by conversation hash) and one ``incremental_extract_prov``
      availableNow drain into the provenance snapshot. After the eighth
      drop the stream starts again from empty.
    """

    name = "kg_update"
    DROPS = 8
    EDITED = 4

    def prepare(self) -> None:
        n_turns = 2000 if self.size == "bench" else 1000
        self.inp = _reset(f"{self.work}/input")
        self.terms_pdf, self.isa_pdf = inputs.lexicon(N_TERMS, self.seed)
        # uniform conversation sizes keep the 4 edited buckets and the 8
        # drops near the same size whatever the seed
        tr = inputs.transcripts(n_turns, n_turns // 10, self.terms_pdf, self.seed, conv_skew=1.0)
        # the bucket function run_resumable uses (Spark's xxhash64)
        conv_bucket = dict(
            self.spark.createDataFrame(tr[["conv_id"]].drop_duplicates())
            .select("conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)).cast("int"))
            .collect()
        )
        bucket = tr["conv_id"].map(conv_bucket)
        rng = random.Random(self.seed)
        edited = rng.sample(sorted(set(conv_bucket.values())), self.EDITED)
        v1 = tr.copy()
        hit = bucket.isin(edited) & (v1["turn_idx"] == 0)
        v1.loc[hit, "text"] = v1.loc[hit, "text"] + " " + rng.choice(inputs.surfaces(self.terms_pdf))
        self.versions = [tr, v1]
        self.drop_turns = [int((bucket % self.DROPS == d).sum()) for d in range(self.DROPS)]
        _write_lexicon(self.terms_pdf, self.isa_pdf, self.inp)
        for v, pdf in enumerate(self.versions):
            _write_partitioned(pdf.assign(bucket=bucket), f"{self.inp}/v{v}", "bucket")
        _write_partitioned(tr.assign(drop=bucket % self.DROPS), f"{self.inp}/drops", "drop")
        self.resume_out = _reset(f"{self.work}/resume")
        self.version = 0
        self.ops = 0

    def _lexicon(self):
        read = self.spark.read.parquet
        return read(f"{self.inp}/terms"), read(f"{self.inp}/isa")

    def op(self) -> int:
        spark = self.spark
        terms, isa = self._lexicon()
        self.version = 1 - self.version
        tr = spark.read.parquet(f"{self.inp}/v{self.version}")
        self.report = checkpoint.run_resumable(
            spark, tr, terms, isa, self.resume_out, buckets=BUCKETS
        )
        if self.tracer:
            ledger = f"{self.resume_out}/_ledger"
            rows = 0
            for f in os.listdir(ledger):
                with open(os.path.join(ledger, f)) as fh:
                    rows += sum(1 for _ in fh)
            self.tracer.add("checkpoint.ledger_rows", rows)
        nodes = P.build_nodes(checkpoint.read_triples(spark, self.resume_out), terms)
        with self.span("write.nodes"):
            nodes.write.mode("overwrite").parquet(f"{self.work}/nodes")

        drop = self.ops % self.DROPS
        self.ops += 1
        if drop == 0:
            self.landing = _reset(f"{self.work}/landing")
            self.stream_out = _reset(f"{self.work}/stream")
        src = f"{self.inp}/drops/drop={drop}"
        for f in os.listdir(src):
            shutil.copy(os.path.join(src, f), os.path.join(self.landing, f"d{drop}-{f}"))
        incremental.incremental_extract_prov(spark, self.landing, self.stream_out, terms, isa)
        # the resumable run fingerprints every turn; the drain reads the drop
        return len(self.versions[self.version]) + self.drop_turns[drop]

    def _expected(self) -> tuple[set, set]:
        """The reference oracle's triple set for the current input
        version, and its endpoint (node id) set."""
        if self.version not in self._oracle:
            exp = reference_oracle.expected_triples(
                self.versions[self.version], self.terms_pdf, self.isa_pdf
            )
            ends = {s for s, _, _ in exp} | {o for _, _, o in exp}
            self._oracle[self.version] = (set(exp), ends)
        return self._oracle[self.version]

    def check(self) -> bool:
        """The resumable triple set and the node table, after every
        operation. Both are a few thousand rows, so they are collected
        and compared exactly, duplicates included."""
        first = self.ops == 1
        if self.report.processed_buckets != (self.report.total_buckets if first else self.EDITED):
            return False
        spark = self.spark
        triples, ends = self._expected()
        got = [tuple(r) for r in checkpoint.read_triples(spark, self.resume_out).select(*TRIPLE_COLS).collect()]
        if len(got) != len(triples) or set(got) != triples:
            return False
        ids = [r[0] for r in spark.read.parquet(f"{self.work}/nodes").select("id").collect()]
        if len(ids) != len(ends) or set(ids) != ends:
            return False
        # the snapshot is additive, so checking it once a stream cycle
        # (and at the end of the run) covers every drain of the cycle
        return self.ops % self.DROPS != 0 or self.check_end()

    def check_end(self) -> bool:
        """The provenance snapshot after the last drain equals
        ``build_triples_prov`` over every landed drop."""
        spark = self.spark
        terms, isa = self._lexicon()
        if "lex" not in self._oracle:
            self._oracle["lex"] = P.prepare_lexicon(terms)
        landed = spark.read.schema(schemas.TRANSCRIPT).parquet(self.landing)
        want = fingerprint(P.build_triples_prov(landed, terms, isa, lex=self._oracle["lex"]), PROV_COLS)
        return fingerprint(incremental.read_prov_triples(spark, self.stream_out), PROV_COLS) == want

    def corrupt(self) -> None:
        _corrupt_triples(self.spark, f"{self.resume_out}/triples/bucket=-1")

    def oneshot(self) -> None:
        """The one-shot path of ``tools/kg_job.py`` on the current input
        version: build_triples (lexicon preparation included) → parquet →
        build_nodes on the written triples → parquet."""
        spark = self.spark
        terms, isa = self._lexicon()
        triples = P.build_triples(spark.read.parquet(f"{self.inp}/v{self.version}"), terms, isa)
        triples.write.mode("overwrite").parquet(f"{self.work}/oneshot/triples")
        back = spark.read.parquet(f"{self.work}/oneshot/triples")
        P.build_nodes(back, terms).write.mode("overwrite").parquet(f"{self.work}/oneshot/nodes")


class QuerySuite(Workload):
    """One pass over the declared ``queries()`` in ``QUERIES`` on seeded
    TPC-H-like testdata (about sf0.001), each result collected. Every
    result is checked against the query's ``oracle_sql()`` on DuckDB,
    compared the way ``tools/check_oracle.py`` compares."""

    name = "query_suite"

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.inp = _reset(f"{self.work}/testdata")
        self.table_rows = inputs.testdata(self.inp, self.seed)
        self.queries = entry.queries()

    def op(self) -> int:
        self.results = {}
        for name in QUERIES:
            with self.span(f"query.{name}"):
                df = self.queries[name](self.spark, self.inp)
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
        return sum(self.table_rows[t] for tables in QUERIES.values() for t in tables)

    def _oracle_results(self) -> dict[str, tuple]:
        if not self._oracle:
            import duckdb

            import __spark_entry__ as entry
            from tools.check_oracle import table_hash

            sql = entry.oracle_sql()
            with duckdb.connect() as con:
                for t in schemas.TESTDATA_TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inp}/{t}.parquet')"
                    )
                for name in QUERIES:
                    res = con.execute(sql[name])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    self._oracle[name] = (sorted(cols), len(rows), table_hash(cols, rows))
        return self._oracle

    def check(self) -> bool:
        from tools.check_oracle import table_hash

        want = self._oracle_results()
        return all(
            (sorted(cols), len(rows), table_hash(cols, rows)) == want[name]
            for name, (cols, rows) in self.results.items()
        )

    def corrupt(self) -> None:
        name = next(iter(self.results))
        cols, rows = self.results[name]
        self.results[name] = (cols, rows[:-1])


WORKLOADS = {w.name: w for w in (KgUpdate, QuerySuite)}

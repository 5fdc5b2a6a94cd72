"""Per-layer tracing for the benchmark's traced run.

The tracer wraps a fixed list of kgflow functions with timing spans from
outside (no kgflow code is edited), keeps the spans in memory and
reports, per operation, each span's *self* time (its duration minus the
part covered by nested spans) together with Spark's own counters for the
stages that ran while the span was innermost: shuffle bytes written,
bytes spilled to disk and tasks completed. The counters are read from
the application status store (``StatusReader``), so tracing adds no
Spark jobs.

Counts (rows in and out of a layer) come from ``DataFrame.observe`` on
the frames the wrapped functions take or return; the observed metrics
ride the action that evaluates the frame anyway.

Lazy functions only do their eager work inside their span; the deferred
work is charged to the span around the action that follows (the
benchmark's own ``write.*`` and ``query.*`` spans).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Functions timed as spans; the span name is "<module leaf>.<function>".
SPANS = {
    "kgflow.plans.pipeline": ["prepare_lexicon", "build_triples", "build_triples_prov", "build_nodes"],
    "kgflow.operators.canon": ["connected_components"],
    "kgflow.plans.checkpoint": [
        "table_fingerprint",
        "bucket_fingerprints",
        "bucket_quality",
        "run_resumable",
    ],
    "kgflow.plans.materialize": ["write_snapshot"],
    "kgflow.streaming.incremental": ["incremental_extract_prov"],
}

ROOT = "unattributed"  # span around a whole operation: its self time is what no other span covers


class StatusReader:
    """The jobs and stages that Spark's application status store (the
    store behind the UI, filled even with the UI off) recorded since the
    last ``read``. Reading adds no Spark jobs. The store keeps only the
    last thousand jobs and stages, so ``read`` must run at least that
    often."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = sc._gateway
        stages = self._store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        jobs = self._store.jobsList(None)
        self._next_stage = 1 + max((stages.apply(i).stageId() for i in range(stages.length())), default=-1)
        self._next_job = 1 + max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)

    def read(self) -> tuple[int, list]:
        """(number of new jobs, the new stages' ``StageData``)."""
        self._bus.waitUntilEmpty()
        jobs = 0
        while True:
            try:
                self._store.job(self._next_job)
            except Py4JJavaError:
                break
            jobs += 1
            self._next_job += 1
        stages = []
        while True:
            try:
                stages.append(self._store.lastStageAttempt(self._next_stage))
            except Py4JJavaError:
                break
            self._next_stage += 1
        return jobs, stages


class Tracer:
    """Spans, self time, Spark stage counters and observed row counts of
    the operations run under ``operation()``."""

    def __init__(self, spark):
        self._status = StatusReader(spark)
        self._stack: list[list] = []  # [name, start, child seconds]
        self._patched: list[tuple] = []
        self._observations: list[Observation] = []
        self._record: dict[str, float] = defaultdict(float)

    # -- spans ------------------------------------------------------------

    def _take_stages(self, owner: str) -> None:
        """Charge every stage recorded since the last call to ``owner``."""
        for s in self._status.read()[1]:
            self._record[f"{owner}.shuffle_write_bytes"] += s.shuffleWriteBytes()
            self._record[f"{owner}.spill_bytes"] += s.diskBytesSpilled()
            self._record[f"{owner}.tasks"] += s.numCompleteTasks()

    @contextlib.contextmanager
    def span(self, name: str):
        self._take_stages(self._stack[-1][0] if self._stack else ROOT)
        self._stack.append([name, time.perf_counter(), 0.0])
        try:
            yield
        finally:
            self._take_stages(name)
            _, start, child = self._stack.pop()
            dur = time.perf_counter() - start
            self._record[f"{name}_s"] += dur - child
            if self._stack:
                self._stack[-1][2] += dur

    # -- counts -----------------------------------------------------------

    def add(self, name: str, value: float) -> None:
        self._record[name] += value

    def observe(self, df: DataFrame, **exprs) -> DataFrame:
        """Attach row-count style metrics to ``df``; they are read after
        the operation, from whichever action evaluated ``df`` first."""
        obs = Observation()
        self._observations.append(obs)
        return df.observe(obs, *[e.alias(k) for k, e in exprs.items()])

    # -- wrapping kgflow ----------------------------------------------------

    def _patch(self, module, fname: str, pre=None, post=None, span: bool = True) -> None:
        orig = getattr(module, fname)
        name = f"{module.__name__.rsplit('.', 1)[1]}.{fname}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if pre is not None:
                args = pre(*args)
            with self.span(name) if span else contextlib.nullcontext():
                out = orig(*args, **kwargs)
            return out if post is None else post(out)

        setattr(module, fname, wrapper)
        self._patched.append((module, fname, orig))

    def install(self) -> None:
        n = F.count(F.lit(1))
        hooks = {
            ("kgflow.plans.pipeline", "prepare_lexicon"): dict(
                post=lambda lex: (self.add("pipeline.lexicon_surfaces", len(lex.surfaces)), lex)[1]
            ),
            ("kgflow.plans.pipeline", "build_triples"): dict(
                post=lambda df: self.observe(df, **{"pipeline.triples": n})
            ),
            ("kgflow.plans.pipeline", "build_nodes"): dict(
                post=lambda df: self.observe(df, **{"pipeline.nodes": n})
            ),
            ("kgflow.plans.checkpoint", "run_resumable"): dict(post=self._resume_report),
            ("kgflow.plans.materialize", "write_snapshot"): dict(
                pre=lambda df, *rest: (self.observe(df, **{"materialize.snapshot_rows": n}), *rest)
            ),
        }
        for modname, fnames in SPANS.items():
            mod = importlib.import_module(modname)
            for fname in fnames:
                self._patch(mod, fname, **hooks.get((modname, fname), {}))
        # count-only hooks (no span: these functions are lazy)
        pipeline = importlib.import_module("kgflow.plans.pipeline")
        self._patch(
            pipeline,
            "_assemble_triples",
            post=lambda df: self.observe(df, **{"pipeline.pre_dedup_rows": n}),
            span=False,
        )
        extract = importlib.import_module("kgflow.operators.extract")
        self._patch(
            extract,
            "extract_linked_terms_grouped",
            pre=lambda tr, *rest: (self.observe(tr, **{"extract.turns_in": n}), *rest),
            post=lambda df: self.observe(
                df,
                **{
                    "extract.turns_with_mentions": n,
                    "extract.mentions": F.coalesce(F.sum(F.size("term_ids")), F.lit(0)),
                },
            ),
            span=False,
        )

    def uninstall(self) -> None:
        for module, fname, orig in reversed(self._patched):
            setattr(module, fname, orig)
        self._patched.clear()

    def _resume_report(self, report):
        self.add("checkpoint.buckets_run", report.processed_buckets)
        self.add("checkpoint.buckets_total", report.total_buckets)
        self.add("checkpoint.buckets_skipped", report.skipped_buckets)
        return report

    # -- one operation --------------------------------------------------------

    @contextlib.contextmanager
    def operation(self):
        """Trace one operation: wrappers installed, a fresh record, and a
        root span whose self time is whatever no other span covers."""
        self._take_stages(ROOT)  # drop stages that ran before the operation
        self._record = defaultdict(float)
        self._observations = []
        self.install()
        try:
            with self.span(ROOT):
                yield
        finally:
            self.uninstall()

    def record(self) -> dict[str, float]:
        """The last operation's record: ``<span>_s`` self seconds,
        ``<span>.<counter>`` engine counters and the observed counts."""
        for obs in self._observations:
            # observe() metrics exist only once an action evaluated the
            # frame; Observation.get would block forever otherwise
            if obs._jo is not None and obs._jo.future().isCompleted():
                for k, v in obs.get.items():
                    self._record[k] += v or 0
        return dict(self._record)


def with_ratios(rec: dict[str, float]) -> dict[str, float]:
    """Add the ratios derived from an operation's counts."""
    rec = dict(rec)
    if rec.get("pipeline.pre_dedup_rows"):
        rec["pipeline.dedup_keep_ratio"] = rec.get("pipeline.triples", 0) / rec["pipeline.pre_dedup_rows"]
    if rec.get("checkpoint.buckets_total"):
        rec["checkpoint.skip_ratio"] = rec["checkpoint.buckets_skipped"] / rec["checkpoint.buckets_total"]
    return rec

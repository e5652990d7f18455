"""Spans and Spark counters recorded from outside the program.

``Tracer.install()`` wraps the public calls of each layer with spans:

- ``engine.runner``: ``Runner.run`` (the DAG walk) and ``Runner._run_one``
  (one model build, the unit the walk schedules);
- ``engine.model``: ``ModelContext.watermark_ms``,
  ``ModelContext.lookback_floor_date`` and every registered builder;
- ``engine.materialize``: ``TableStore.merge`` and ``TableStore.write_full``,
  plus a count of the parquet files, bytes and rows each sink wrote;
- ``queries``: the query builder call and the forced evaluation
  (``Tracer.query``).

A span records name, start, end, parent span and run id; spans stay in
memory until the run summarises them (``phase_layers``, ``spans_by_model``). A span's self time is its duration minus the
durations of its direct children. Each model build and each query runs
under its own Spark job group; when it ends, the tracer waits for the
listener bus and reads the group's stages from the status store (before
the store's retention limit can drop them). ``uninstall()`` restores
every wrapped attribute.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
import uuid
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from checks import parquet_files, parquet_rows

MB = 1024 * 1024

# Spark counters summed per job group, with their units
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "input_mb": "MB", "input_records": "count",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
}

# span name → metric: self time (children excluded) or wall time
SELF_METRICS = {
    "model.builder": "model.builder_s",
    "model.watermark": "model.watermark_s",
    "model.lookback": "model.lookback_s",
    "materialize.merge": "materialize.merge_s",
    "materialize.write_full": "materialize.write_full_s",
    "queries.plan": "queries.plan_s",
    "queries.action": "queries.action_s",
}
WALL_METRICS = {"runner.run": "runner.dag_s", "runner.model": "runner.model_sum_s"}


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the status-store stage metrics of every job in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    tot = dict.fromkeys(SPARK_UNITS, 0.0)
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        tot["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage was never attempted
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["input_mb"] += s.inputBytes() / MB
            tot["input_records"] += s.inputRecords()
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / MB
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
    return tot


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) from the QueryExecution's tracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.phase = "setup"
        self.spans: list[dict] = []
        self.spark_by_phase: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPARK_UNITS, 0.0))
        self.spark_by_unit: dict[str, dict[str, float]] = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        sp = {
            "id": next(self._ids), "name": name, "run": self.run_id,
            "phase": self.phase, "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(), **attrs,
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _add_spark(self, unit: str, tot: dict[str, float]) -> None:
        with self._lock:
            for acc in (self.spark_by_phase[self.phase],
                        self.spark_by_unit.setdefault(f"{self.phase}:{unit}",
                                                      dict.fromkeys(SPARK_UNITS, 0.0))):
                for k, v in tot.items():
                    acc[k] += v

    @contextlib.contextmanager
    def job_group(self, unit: str):
        group = f"pipebench-{self.run_id}-{next(self._ids)}-{unit}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, unit)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._add_spark(unit, stage_totals(self.spark, group))

    # ------------------------------------------------------------ install

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from sample_deepbook_margin_dune_dbt_spark.engine.materialize import TableStore
        from sample_deepbook_margin_dune_dbt_spark.engine.model import ModelContext, all_models
        from sample_deepbook_margin_dune_dbt_spark.engine.runner import Runner

        tr = self

        def spanned(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        def run_one(orig):
            def wrapper(runner, cfg, *a, **kw):
                with tr.span("runner.model", model=cfg.name), tr.job_group(cfg.name):
                    return orig(runner, cfg, *a, **kw)
            return wrapper

        def parquet(orig):
            def wrapper(writer, path, *a, **kw):
                t0 = time.time_ns()
                out = orig(writer, path, *a, **kw)
                stack = tr._tls.__dict__.get("stack", [])
                sink = next((s for s in reversed(stack) if s["name"].startswith("materialize.")), None)
                if sink is not None:
                    files = parquet_files(path, t0)
                    sink["files"] = sink.get("files", 0) + len(files)
                    sink["bytes"] = sink.get("bytes", 0) + sum(os.path.getsize(f) for f in files)
                    sink["rows"] = sink.get("rows", 0) + parquet_rows(files)
                return out
            return wrapper

        self._wrap(Runner, "run", spanned("runner.run"))
        self._wrap(Runner, "_run_one", run_one)
        self._wrap(ModelContext, "watermark_ms", spanned("model.watermark"))
        self._wrap(ModelContext, "lookback_floor_date", spanned("model.lookback"))
        self._wrap(TableStore, "merge", spanned("materialize.merge"))
        self._wrap(TableStore, "write_full", spanned("materialize.write_full"))
        self._wrap(DataFrameWriter, "parquet", parquet)
        for cfg in all_models().values():
            self._wrap(cfg, "builder", spanned("model.builder"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ queries

    def query(self, name: str, build, evaluate):
        """Run one query: ``build()`` returns the DataFrame (the plan span),
        ``evaluate(df)`` forces it (the action span). Returns
        ``(result, catalyst phases of the evaluated plan)``."""
        with self.span("queries.query", query=name), self.job_group(name):
            with self.span("queries.plan"):
                df = build()
            with self.span("queries.action"):
                result, evaluated = evaluate(df)
        return result, catalyst_phases(evaluated)

    # ------------------------------------------------------------ summary

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def phase_layers(self, phase: str) -> dict[str, float]:
        """Per-layer totals of one phase: self seconds of the probe, builder,
        sink and query spans, wall seconds of the DAG walk and of the model
        builds it ran, the sink write counters and the Spark counters."""
        selfs = self.self_times()
        out = dict.fromkeys(SELF_METRICS.values(), 0.0)
        out.update(dict.fromkeys(WALL_METRICS.values(), 0.0))
        out.update({"materialize.files_written": 0, "materialize.bytes_written_mb": 0.0,
                    "materialize.rows_written": 0})
        for s in self.spans:
            if s["phase"] != phase:
                continue
            if s["name"] in SELF_METRICS:
                out[SELF_METRICS[s["name"]]] += selfs[s["id"]]
            if s["name"] in WALL_METRICS:
                out[WALL_METRICS[s["name"]]] += s["end"] - s["start"]
            out["materialize.files_written"] += s.get("files", 0)
            out["materialize.bytes_written_mb"] += s.get("bytes", 0) / MB
            out["materialize.rows_written"] += s.get("rows", 0)
        out.update({f"spark.{k}": v for k, v in self.spark_by_phase[phase].items()})
        return out

    def spans_by_model(self, phase: str) -> dict[str, dict[str, float]]:
        """Self seconds per (model, span name) in one phase, for attributing
        a run's wall time to named spans."""
        selfs = self.self_times()
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["phase"] != phase:
                continue
            p, model = s, None
            while p is not None and model is None:
                model = p.get("model")
                p = by_id.get(p["parent"])
            out[model or "-"][s["name"]] += selfs[s["id"]]
        return {m: dict(v) for m, v in out.items()}

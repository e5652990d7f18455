"""Benchmark of the 7-model incremental DeepBook pipeline.

    python3 pipebench/run.py --workload {backfill,incremental} --seed N \\
        --seconds S --trace {0,1} [--out report.json]

Run from the root of a checkout. Everything happens in one process with
one Spark session (``local[<nproc>]``) and ``Runner(threads=4)``, the
reference profile. Inputs are generated from ``--seed`` under
``.pipebench_work/`` in the checkout, which is removed at exit.

Each timed pair is a *build* followed by a *re-run with no new data*:

- ``backfill``: the build is the first ``Runner.run`` into an empty
  warehouse (source scan, JSON decode, ``write_full``; no watermark, no
  MERGE);
- ``incremental``: the base warehouse (a backfill, then one daily tick)
  is restored untimed, one new day of source files is added and the
  build is that one-day tick (watermark probes, lookback probe, MERGE of
  a ~1/12 slice).

Set-up (``setup_s``) ends where timing starts: session start, input
generation, and the warm-up, which runs every path a timed pair runs
once: on ``backfill`` one untimed pair, on ``incremental`` the base
build, whose tick warms the watermark probes and the MERGE. Then timed
pairs repeat until ``--seconds`` have passed (at least one); the
timings are their medians.

Checks (each counts toward ``failed``): backfill row counts equal counts
computed from the sources with pyarrow; after a tick and after every
re-run, each table's content hash equals a full refresh over the same
sources (``updated_at`` and the fact model's lag deltas excluded).

With ``--trace 0`` the end-to-end metrics are printed; with ``--trace 1``
the timed pairs run under the span wrappers of ``spans.py`` and the
per-layer metrics are printed, after a traced query mix over the
operator library (checked against DuckDB). The result is the last line
of stdout; progress and a detail record go to stderr.
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import contextlib
import datetime as dt
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()  # set-up time counts from process start
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

HISTORY_DAYS = 12
EVENTS_PER_DAY = 12000
MARGIN_FRAC = 0.2
OBJECTS_PER_DAY = 400
THREADS = 4
WARMUP_PAIRS = {"backfill": 1, "incremental": 0}  # the base build warms a tick
DRIVER_HEAP = "1g"
QUERY_SF = 0.01
QUERY_REPEATS = 2
QUERY_MIX = [
    "flagship_daily_user_fact", "j1_foj_volume_chain", "w1_rownum_dedup", "w3_lag_delta",
    "p10_case_trycast", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q8", "tpch_q18", "tpch_q21",
    "ann_lsh_bucketed", "multimodal_phash_dedup", "dedup_jaccard_prefix",
]
WORKLOADS = ("backfill", "incremental")

E2E_UNITS = {
    "setup_s": "s", "build_s": "s", "rerun_s": "s", "warehouse_mb": "MB", "peak_rss_mb": "MB",
}
_RUNNER_UNITS = {
    "runner.dag_s": "s", "runner.model_sum_s": "s", "runner.parallelism": "ratio",
    "runner.rows_added": "count",
}
_SINK_UNITS = {
    "materialize.write_full_s": "s", "materialize.bytes_written_mb": "MB",
    "materialize.files_written": "count", "materialize.rows_written": "count",
}
_PHASE_UNITS = {
    # a backfill build runs no probe and no MERGE, so those spans are
    # reported for the re-run, which both workloads execute
    "build": {**_RUNNER_UNITS, "model.builder_s": "s", **_SINK_UNITS},
    "rerun": {**_RUNNER_UNITS, "model.watermark_s": "s", "model.lookback_s": "s",
              "model.builder_s": "s", "materialize.merge_s": "s", **_SINK_UNITS},
    "query": {"queries.plan_s": "s", "queries.action_s": "s", "queries.total_s": "s",
              "queries.geomean_s": "s", "catalyst.analysis_s": "s",
              "catalyst.optimization_s": "s", "catalyst.planning_s": "s"},
}
PER_LAYER_UNITS = {
    f"{phase}.{name}": unit
    for phase, units in _PHASE_UNITS.items()
    for name, unit in {**units, **{f"spark.{k}": u for k, u in spans.SPARK_UNITS.items()}}.items()
}
# the traced walls of the timed pair; against build_s / rerun_s of untraced
# runs they give the tracing overhead
PER_LAYER_UNITS.update({"trace.build_s": "s", "trace.rerun_s": "s"})


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def result_line(attempted: int, failed: int, values: dict[str, float],
                units: dict[str, str]) -> str:
    """The closing stdout line: exactly the metrics named in ``units``."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }, separators=(",", ":"))


def vm_hwm_mb(pid) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs) / (1024 * 1024)


def link_days(src_all: str, dst: str, days) -> dict[str, str]:
    """A source mapping over ``days`` of the generated files (hard links)."""
    for key, sub in gen.SOURCE_DIRS.items():
        os.makedirs(os.path.join(dst, sub), exist_ok=True)
        for d in days:
            os.link(gen.source_file(src_all, key, d), gen.source_file(dst, key, d))
    return {key: os.path.join(dst, sub) for key, sub in gen.SOURCE_DIRS.items()}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.extra: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # ------------------------------------------------------------ bookkeeping

    def count_attempt(self, failed: bool = False) -> None:
        with self._lock:  # warm-up builds run on two threads
            self.attempted += 1
            self.failed += failed

    def check(self, label: str, problems: list[str]) -> None:
        self.count_attempt(failed=bool(problems))
        if problems:
            self.problems.extend(f"{label}: {p}" for p in problems)
            log(f"CHECK FAILED {label}: {problems[:3]}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def run_models(self, runner, phase: str) -> float:
        """One ``Runner.run`` over the 7 models; returns its wall seconds."""
        from sample_deepbook_margin_dune_dbt_spark import models_deepbook

        self.count_attempt()
        if self.tracer:
            self.tracer.phase = phase
        # start every timed run from a collected heap on both sides
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        runner.run(models_deepbook.ALL_MODELS, threads=THREADS)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ session

    def start_session(self) -> None:
        from sample_deepbook_margin_dune_dbt_spark.engine import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="pipebench",
            extra_conf={
                # the console progress bar writes over stdout's last line and
                # cannot be switched off once the session runs
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        if self.args.trace:
            self.tracer = spans.Tracer(self.spark)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM (and its workers) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------ workloads

    def run(self) -> None:
        from sample_deepbook_margin_dune_dbt_spark.engine import Runner, TableStore

        a = self.args
        t_setup = T_START
        self.detail["loadavg_1m_pre_warmup"] = os.getloadavg()[0]
        src_all = os.path.join(self.work, "src_all")
        src_dir = os.path.join(self.work, "src")
        with cf.ThreadPoolExecutor(1) as pool:  # generate while the JVM starts
            generated = pool.submit(gen.write_pipeline_sources, src_all, a.seed,
                                    HISTORY_DAYS + 1, EVENTS_PER_DAY, MARGIN_FRAC,
                                    OBJECTS_PER_DAY)
            self.start_session()
            self.detail["session_s"] = time.perf_counter() - t_setup
            generated.result()
        src = link_days(src_all, src_dir, range(HISTORY_DAYS))

        now = dt.datetime(2026, 1, 1) + dt.timedelta(days=HISTORY_DAYS)
        floor_ms = gen.EPOCH_MS + (HISTORY_DAYS - 30) * gen.DAY_MS
        counts = checks.expected_row_counts(src, floor_ms)
        names = list(counts)

        def runner(wh: str, sources: dict) -> Runner:
            return Runner(self.spark, TableStore(self.spark, wh), sources, fixed_now=now)

        t0 = time.perf_counter()
        if a.workload == "backfill":
            expected = None
        else:
            # Side by side: the expected state (a full refresh over every
            # day, the timed tick's day included), and the base that each
            # timed tick restores: a backfill without the last history day,
            # then that day as one tick, which also warms the watermark
            # probes and the MERGE before any tick is timed.
            full = runner(os.path.join(self.work, "wh_full"),
                          link_days(src_all, os.path.join(self.work, "src_full"),
                                    range(HISTORY_DAYS + 1)))
            base_wh = os.path.join(self.work, "wh_base")
            base_dir = os.path.join(self.work, "src_base")
            base = runner(base_wh, link_days(src_all, base_dir, range(HISTORY_DAYS - 1)))

            def build_base() -> None:
                self.run_models(base, "setup")
                link_days(src_all, base_dir, [HISTORY_DAYS - 1])
                self.run_models(base, "setup")

            with cf.ThreadPoolExecutor(2) as pool:
                builds = [pool.submit(self.run_models, full, "setup"), pool.submit(build_base)]
                for b in builds:
                    b.result()
            expected = checks.warehouse_hashes(full.store, names)
            self.check("base row counts", checks.check_row_counts(base.store, counts))
        self.detail["builds_s"] = time.perf_counter() - t0

        # The first WARMUP_PAIRS[workload] pairs are untimed set-up (JIT and
        # codegen of the build and MERGE paths); then timed pairs, at least
        # one, while --seconds last.
        t_measure = None
        pair = 0
        while t_measure is None or time.perf_counter() - t_measure < a.seconds:
            warm = pair < WARMUP_PAIRS[a.workload]
            wh = os.path.join(self.work, f"wh{pair}")
            tick = [gen.source_file(src_dir, key, HISTORY_DAYS) for key in gen.SOURCE_DIRS]
            if a.workload == "incremental":
                shutil.copytree(base_wh, wh)  # restore the base warehouse
                for key, f in zip(gen.SOURCE_DIRS, tick):
                    os.link(gen.source_file(src_all, key, HISTORY_DAYS), f)
            if not warm and t_measure is None:
                self.sample("setup_s", time.perf_counter() - t_setup)
                self.detail["warmup_s"] = time.perf_counter() - t0
                t_measure = time.perf_counter()
            self.pair(runner(wh, src), names, counts, expected, timed=not warm)
            if not warm:
                self.sample("warehouse_mb", dir_mb(wh))
            if a.workload == "incremental":
                for f in tick:
                    os.remove(f)
            shutil.rmtree(wh)
            pair += 1
        self.detail["measure_s"] = time.perf_counter() - t_measure

        if self.tracer:
            self.query_mix()
        self.sample("peak_rss_mb", vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid()))

    def pair(self, r, names, counts, expected, timed: bool) -> None:
        """One build and re-run, each followed by its output check; only
        a timed pair is traced and sampled."""
        tracer = self.tracer if timed else None
        rows = [checks.table_rows(r.store, names)]
        if tracer:
            tracer.install()
        build = self.run_models(r, "build" if timed else "setup")
        if tracer:
            tracer.phase = "check"
        rows.append(checks.table_rows(r.store, names))
        if expected is None:  # backfill: counts from the sources; re-run must not change it
            self.check("backfill row counts", checks.check_row_counts(r.store, counts))
            expected = checks.warehouse_hashes(r.store, names)
        else:
            self.check("tick vs full refresh",
                       checks.compare_hashes(expected, checks.warehouse_hashes(r.store, names)))
        rerun = self.run_models(r, "rerun" if timed else "setup")
        if tracer:
            tracer.uninstall()
        rows.append(checks.table_rows(r.store, names))
        self.check("re-run content",
                   checks.compare_hashes(expected, checks.warehouse_hashes(r.store, names)))
        if not timed:
            return
        self.sample("build_s", build)
        self.sample("rerun_s", rerun)
        self.sample("rows_added.build", rows[1] - rows[0])
        self.sample("rows_added.rerun", rows[2] - rows[1])

    # ------------------------------------------------------------ queries

    def query_mix(self) -> None:
        """Traced operator-library queries: one DuckDB oracle check each
        (where the query carries oracle SQL), then ``QUERY_REPEATS`` forced
        evaluations whose fingerprints must agree."""
        from sample_deepbook_margin_dune_dbt_spark.queries import FULL_QUERIES
        from tests.oracle_harness import compare

        tables = gen.write_query_tables(os.path.join(self.work, "qdata"), self.args.seed,
                                        QUERY_SF)
        con = checks.duckdb_connection(tables)
        tr = self.tracer
        tr.phase = "query"
        per_query, catalyst = {}, {}
        for name in QUERY_MIX:
            fn, oracle = FULL_QUERIES[name]
            if oracle:
                self.check(f"{name} oracle", compare(fn(self.spark, tables), con, oracle, name))
            times, prints = [], []
            for _ in range(QUERY_REPEATS):
                self.count_attempt()
                t0 = time.perf_counter()
                fp, phases = tr.query(name, lambda: fn(self.spark, tables), checks.fingerprint)
                times.append(time.perf_counter() - t0)
                prints.append(fp)
                for k, v in phases.items():
                    catalyst[k] = catalyst.get(k, 0.0) + v / QUERY_REPEATS
            self.check(f"{name} fingerprint stable",
                       [] if len(set(prints)) == 1 else [f"fingerprints {prints}"])
            per_query[name] = {"median_s": statistics.median(times), "rows": prints[0][0]}
        con.close()
        meds = [q["median_s"] for q in per_query.values()]
        self.detail["queries"] = per_query
        self.extra.update({
            "query.queries.total_s": sum(meds),
            "query.queries.geomean_s": math.exp(sum(math.log(m) for m in meds) / len(meds)),
            **{f"query.catalyst.{k}_s": v for k, v in catalyst.items()},
        })

    # ------------------------------------------------------------ metrics

    def metrics(self) -> dict[str, float]:
        """Medians of the samples; with tracing, the per-layer values (per
        timed pair, and per round of the query mix)."""
        med = {k: statistics.median(v) for k, v in self.samples.items()}
        if not self.tracer:
            return med
        out = {"trace.build_s": med["build_s"], "trace.rerun_s": med["rerun_s"]}
        n_pairs = len(self.samples["build_s"])
        for phase, per in (("build", n_pairs), ("rerun", n_pairs), ("query", QUERY_REPEATS)):
            out.update({f"{phase}.{k}": v / per
                        for k, v in self.tracer.phase_layers(phase).items()})
        for phase in ("build", "rerun"):
            dag = out[f"{phase}.runner.dag_s"]
            out[f"{phase}.runner.parallelism"] = out[f"{phase}.runner.model_sum_s"] / dag
            out[f"{phase}.runner.rows_added"] = med[f"rows_added.{phase}"]
        out.update(self.extra)
        self.detail["spans_by_model"] = {
            p: self.tracer.spans_by_model(p) for p in ("build", "rerun")}
        self.detail["spark_by_unit"] = self.tracer.spark_by_unit
        return out


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="also write the detail record (samples, spans) here")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    # registers the 7 models; fails here when the checkout has no program
    import sample_deepbook_margin_dune_dbt_spark.models_deepbook  # noqa: F401

    work_root = os.path.join(REPO, ".pipebench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # a small heap (inputs are a few MB; the host is shared), fixed at
        # start with -Xms so peak RSS does not follow heap resizing
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher too) would write /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python UDF workers import the package too; sys.path does not
        # reach them
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    bench = Bench(args, work)
    try:
        bench.run()
        values = bench.metrics()
    finally:
        if bench.spark is not None:
            bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(work_root)
    units = PER_LAYER_UNITS if args.trace else E2E_UNITS
    bench.detail.update({"samples": bench.samples, "problems": bench.problems, "nproc": nproc})
    log(json.dumps(bench.detail, default=str))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({**bench.detail, "metrics": {k: values[k] for k in units}}, f,
                      indent=1, default=str)
    print(result_line(bench.attempted, bench.failed, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())

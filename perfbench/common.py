"""Pieces every perfbench workload shares: the hermetic environment, the
redirected artifact stores, the session with its warm-up, statistics,
and the optional layer tracer.

Everything the engine reads or writes during a run lives under
``perfbench/.work`` (wiped at the start of every run), so two runs start
from the same disk state and nothing outside the checkout is touched.
"""

from __future__ import annotations

import importlib
import inspect
import json
import math
import os
import resource
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORPUS = os.path.join(HERE, "corpus", "sf0.001")
STORES = os.path.join(WORK, "stores")
NPROC = len(os.sched_getaffinity(0))

PKG = "automotive_big_data_analysis_spark"
# (module, attribute) of every derived-artifact root the engine writes.
# Each is pointed under STORES; a root that no longer exists under its
# name stops the run instead of letting the engine write outside it.
STORE_ROOTS = [
    ("operators.dedup", "PAIR_INDEX_LOCATION"),
    ("operators.similarity", "ANN_INDEX_LOCATION"),
    ("operators.similarity", "GC_AUDIT_LOCATION"),
    ("operators.maintenance", "MAINT_LOCATION"),
    ("operators.text_analysis", "PII_MIRROR_LOCATION"),
    ("sources.text_formats", "TEXTFMT_LOCATION"),
    ("sources.schema_evolution", "SCHEMA_EVO_LOCATION"),
    ("sources.bucketed", "DEFAULT_LOCATION"),
]


def prepare_environment() -> None:
    """Wipe the work tree and set the environment the engine and its
    Python workers inherit. Must run before the package is imported:
    some of these variables are read at import time."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "stream", "jtmp", "eventlog", "stores"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ.update(
        {
            # the Python workers import the package too
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(WORK, "stream"),
            "TMPDIR": os.path.join(WORK, "tmp"),
            # both JVMs spark-submit starts: temp files under WORK, and
            # no perf-data file in the system temp directory
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "jtmp"),
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = os.environ["TMPDIR"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def redirect_stores() -> None:
    """Point every derived-artifact root under STORES."""
    for mod_name, attr in STORE_ROOTS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        if not hasattr(mod, attr):
            raise SystemExit(f"perfbench: {PKG}.{mod_name}.{attr} is gone")
        setattr(mod, attr, os.path.join(STORES, attr.lower()))
    # write_bucketed_tables binds its root as a default argument
    from automotive_big_data_analysis_spark.sources import bucketed

    fn = bucketed.write_bucketed_tables
    params = [
        p.name
        for p in inspect.signature(fn).parameters.values()
        if p.default is not inspect.Parameter.empty
    ]
    defaults = list(fn.__defaults__)
    defaults[params.index("location")] = bucketed.DEFAULT_LOCATION
    fn.__defaults__ = tuple(defaults)


def wipe_stores() -> None:
    shutil.rmtree(STORES, ignore_errors=True)
    os.makedirs(STORES)


def tree_size(*paths: str) -> tuple[int, int]:
    """(bytes, files) under ``paths`` — an ``os.walk`` of what is on disk."""
    n_bytes = n_files = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for fn in files:
                n_bytes += os.stat(os.path.join(root, fn)).st_size
                n_files += 1
    return n_bytes, n_files


def start_session(trace: bool):
    """Start the engine's session; returns (spark, seconds taken)."""
    from automotive_big_data_analysis_spark import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # keep every job and stage for the end-of-run tracker reads
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, shut its JVM down and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def warm_up(spark, python_workers: bool) -> float:
    """First-job and Python-worker warm-up on synthetic input; returns
    its seconds. The Python workers are forked on the first pandas
    exchange; only workloads whose operations use them pay for it."""
    t0 = time.perf_counter()
    spark.range(1).count()
    if python_workers:
        spark.range(64).repartition(NPROC).mapInPandas(
            lambda it: it, "id long"
        ).count()
    return time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1 - (a + b) * x / (a + 1)
    d = 1 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (
            m * (b - m) * x / ((a - 1 + 2 * m) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1 + 2 * m)),
        ):
            d = 1 + aa * d
            d = 1 / (d if abs(d) > tiny else tiny)
            c = 1 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1) < 1e-12:
            break
    return h


def _beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1 - x)
    )
    if x < (a + 1) / (a + b + 2):
        return front * _beta_cf(a, b, x) / a
    return 1 - front * _beta_cf(b, a, 1 - x) / b


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) by the Harrell-Davis estimator: a
    Beta-weighted average of every order statistic. With the few tens of
    samples a run affords it moves far less between runs than picking
    or interpolating one or two samples."""
    xs = sorted(values)
    n = len(xs)
    a, b = q / 100 * (n + 1), (1 - q / 100) * (n + 1)
    cdf = [_beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def passes_for(seconds: float, nominal_pass_s: float) -> int:
    """Whole passes to run for ``seconds`` of measurement. The count
    comes from the pass's nominal length on four cores, not from the
    clock, so every run of a given ``--seconds`` does the same work."""
    return max(1, round(seconds / nominal_pass_s))


class Tracer:
    """Per-layer spans and counters for a traced run; a no-op otherwise.

    ``span`` times the benchmark's own call into one module function;
    ``op`` puts an operation's Spark jobs under one job group so that
    the status tracker can count them afterwards. The time spent in the
    tracer's own bookkeeping is kept as ``overhead_s``.

    Samples are keyed by their per-layer metric name, whose suffix says
    how a run reports them: ``_s`` sums seconds per pass, ``_ms`` and
    counts take the median per call.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.groups: list[str] = []
        self.overhead_s = 0.0
        self.progress: list[dict] = []
        if enabled:
            self._add_stream_listener()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        scale = 1000 if name.endswith("_ms") else 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples[name].append((time.perf_counter() - t0) * scale)

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    @contextmanager
    def op(self, label: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        gid = f"perfbench-{len(self.groups)}-{label}"
        self.groups.append(gid)
        self.spark.sparkContext.setJobGroup(gid, label)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(None, None)
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def overhead(self):
        """Wrap tracing-only work (re-planning for phase timings)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def plan_phases(self, df) -> None:
        """Force ``df``'s physical plan and record the query-planning
        tracker's analysis / optimization / planning milliseconds."""
        qe = df._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.executedPlan()
        self.samples["catalyst.plan_s"].append(time.perf_counter() - t0)
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            ms = phases.get(phase).get().durationMs() if phases.contains(phase) else 0
            self.samples[f"catalyst.{phase}_ms"].append(float(ms))

    def job_counts(self) -> dict[str, int]:
        """Jobs, executed stages, tasks and failed tasks of every traced
        operation, from the status tracker under each job group."""
        tracker = self.spark.sparkContext.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        stages: set[int] = set()
        for gid in self.groups:
            for job_id in tracker.getJobIdsForGroup(gid):
                out["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                stages.update(info.stageIds if info else [])
        for stage_id in stages:
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["failed_tasks"] += st.numFailedTasks
        return out

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append(
                    {
                        "timestamp": p.timestamp,
                        "durationMs": dict(p.durationMs),
                        "stateRowsUpdated": sum(
                            s.numRowsUpdated for s in p.stateOperators
                        ),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())

    def stream_totals(self, t0: float, t1: float) -> dict[str, float]:
        """Micro-batch counts and phase milliseconds of the streaming
        progress events timestamped inside the wall-clock window [t0, t1]."""
        from datetime import datetime

        out = defaultdict(float)
        for p in self.progress:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            if not t0 <= ts.timestamp() <= t1:
                continue
            d = p["durationMs"]
            out["batches"] += 1
            out["trigger_ms"] += d.get("triggerExecution", 0)
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["query_planning_ms"] += d.get("queryPlanning", 0)
            out["wal_commit_ms"] += d.get("walCommit", 0) + d.get(
                "commitOffsets", 0
            )
            out["state_rows"] += p["stateRowsUpdated"]
        return out


def event_log_totals(windows: dict[str, tuple[float, float]]) -> dict:
    """Per named wall-clock window: task CPU seconds, shuffle-write and
    spill bytes of the tasks that finished in it, and the jobs submitted
    in it, from the Spark event log. Read after the session stops, when
    the log is complete."""
    out = {name: defaultdict(float) for name in windows}
    ms = {name: (a * 1000, b * 1000) for name, (a, b) in windows.items()}
    log_dir = os.path.join(WORK, "eventlog")
    for fn in os.listdir(log_dir):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    t = ev["Task Info"]["Finish Time"]
                else:
                    continue
                for name, (lo, hi) in ms.items():
                    if not lo <= t <= hi:
                        continue
                    acc = out[name]
                    if kind == "SparkListenerJobStart":
                        acc["jobs"] += 1
                        continue
                    m = ev.get("Task Metrics") or {}
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out

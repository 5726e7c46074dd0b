"""Shared benchmark machinery: Spark session lifecycle, the status-store
counter reader, span tracing, peak-RSS sampling and small statistics.

Every private Spark handle the benchmark needs (``_jsc``, ``_gateway``) is
touched in this module only.
"""

from __future__ import annotations

import math
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

#: engine modules measured as Spark layers, by short module name
SPARK_LAYERS = (
    "parse", "filters", "daylimit", "cluster", "zipnum", "merge", "cdx_query",
    "quality", "textops", "components", "decontam", "bpe", "sampling", "graph",
)

#: counters read from the status store for every Spark layer
COUNTERS = (
    "wall_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


# ---------------------------------------------------------------------------
# statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def supported_percentile(n: int) -> int:
    """Highest of 50/90/99/99.9 with at least ten samples beyond it."""
    best = 50
    for q in (90, 99, 99.9):
        if n * (1 - q / 100.0) >= 10:
            best = q
    return best


# ---------------------------------------------------------------------------
# environment


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def env_stamp() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_start": loadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------------------
# peak memory of this process and every descendant (Spark JVM, Python
# workers, the lookup server), read from /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> tuple[str, int]:
    """(process name, resident KiB), or ('', 0) once the process is gone."""
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return name, rss


def _descendants(root: int) -> list[int]:
    kids, out, stack = _children_map(), [], [root]
    while stack:
        for child in kids.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float = 10.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if _running(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = [p for p in live if _running(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_rss_kb(root: int) -> dict[str, int]:
    """Resident KiB of ``root`` and its descendants, summed per process name."""
    kids = _children_map()
    out: dict[str, int] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        name, rss = _rss_kb(pid)
        if rss:
            out[name] = out.get(name, 0) + rss
        stack.extend(kids.get(pid, ()))
    return out


class PeakRSS:
    """Background sampler of the summed RSS of this process tree; keeps the
    per-process-name breakdown of the peak sample."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name = tree_rss_kb(me)
            total = sum(by_name.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_by_name = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifecycle


class SparkRunner:
    """Owns the benchmark's SparkSession: (re)starts it through the engine's
    ``get_spark`` and stops it together with its JVM."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None
        self.start_s: list[float] = []

    def start(self):
        """Stop any live session and its JVM, then build a fresh one in a new
        JVM, so every start pays the JVM launch; returns seconds."""
        from ia_hadoop_tools_spark.session import get_spark

        self.stop()
        tmp = os.path.join(self.work_dir, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                # keep the JVM's temp files, hsperfdata included, out of /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "10000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        dt = time.perf_counter() - t0
        self.start_s.append(dt)
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop(self) -> None:
        """Stop the session, then wait for the JVM and the Python workers it
        forked to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        workers = _descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait(timeout=30)
            _wait_gone(workers)


# ---------------------------------------------------------------------------
# status-store counters keyed by job group


class StatusCounters:
    """Reads per-job-group counters from Spark's status store.

    Jobs come from the public ``statusTracker``; their stages and task
    metrics from the JVM ``AppStatusStore`` (the same store the UI reads,
    kept with the UI disabled).  Skipped stages ran no tasks and are not
    counted.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def read(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        # listener events are delivered asynchronously; drain them so the
        # group's finished jobs and stage metrics are all in the store
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS[1:], 0)
        out["executor_run_s"] = out["executor_cpu_s"] = 0.0
        out["job_spans"] = []
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group) or [])
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            job = self._store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            out["job_spans"].append(
                {
                    "job": jid,
                    "start_ms": sub.get().getTime() if sub.isDefined() else None,
                    "end_ms": end.get().getTime() if end.isDefined() else None,
                }
            )
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def self_test(self) -> list[str]:
        """Run plans whose job, stage and task counts are known and compare
        the reader's counts with them; returns the mismatches."""
        sc = self.sc
        errors = []
        sc.setJobGroup("perfbench.selftest.map", "self-test: 1 job, 1 stage")
        sc.parallelize(range(400), 4).map(lambda x: x * 2).collect()
        sc.setJobGroup("perfbench.selftest.shuffle", "self-test: 1 job, 2 stages")
        sc.parallelize(range(400), 4).map(lambda x: (x % 7, 1)).reduceByKey(
            lambda a, b: a + b, 3
        ).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        got_map = self.read("perfbench.selftest.map")
        got_shuf = self.read("perfbench.selftest.shuffle")
        for label, got, jobs, tasks, shuffles in (
            ("map", got_map, 1, 4, False),
            ("shuffle", got_shuf, 1, 4 + 3, True),
        ):
            if got["jobs"] != jobs or got["tasks"] != tasks:
                errors.append(
                    f"self-test {label}: jobs={got['jobs']} tasks={got['tasks']}, "
                    f"expected jobs={jobs} tasks={tasks}"
                )
            if shuffles != (got["shuffle_write_bytes"] > 0):
                errors.append(
                    f"self-test {label}: shuffle_write_bytes="
                    f"{got['shuffle_write_bytes']}"
                )
        return errors


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans: (id, parent, name, kind, start, end, attrs).

    Level 1 spans are the workload and its phases, level 2 the layer calls,
    level 3 the Spark jobs a layer call started (times from the status
    store).  Disabled, it records nothing and tags nothing, so the engine
    runs its natural fused plans.
    """

    def __init__(self, enabled: bool, spark_counters: StatusCounters | None = None):
        self.enabled = enabled
        self.counters = spark_counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0_wall = time.time()
        self.t0 = time.perf_counter()
        self._seq = 0
        self.layer_totals: dict[str, dict] = {}

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    def open(self, name: str, kind: str, **attrs) -> dict:
        """Start a span under the innermost open one."""
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": self._now(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = self._now()
        self._stack.pop()

    def record(self, name: str, kind: str, start: float, end: float,
               parent: int | None = None, **attrs) -> None:
        """Add a finished span under ``parent`` (default: the innermost open
        span); ``start`` and ``end`` are seconds since the tracer started."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "id": len(self.spans), "parent": parent,
            "name": name, "kind": kind, "start": start, "end": end, "attrs": attrs,
        })

    @contextmanager
    def span(self, name: str, kind: str = "phase", **attrs):
        if not self.enabled:
            yield None
            return
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def layer(self, layer: str, fn, materialize: bool = True):
        """Run one layer call.  Traced: tag its jobs with a job group,
        materialize a DataFrame result at the boundary (persist + count) so
        the span covers the work, and attach the group's counters and job
        spans.  Untraced: just call ``fn``."""
        if not self.enabled:
            return fn()
        from pyspark import StorageLevel
        from pyspark.sql import DataFrame

        self._seq += 1
        group = f"perfbench.{layer}.{self._seq}"
        sc = self.counters.sc
        sc.setJobGroup(group, f"perfbench layer {layer}")
        s = self.open(layer, "layer", group=group)
        try:
            out = fn()
            if materialize and isinstance(out, DataFrame):
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
                out.count()
        finally:
            self.close(s)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        c = self.counters.read(group)
        c["wall_s"] = s["end"] - s["start"]
        s["attrs"].update({k: c[k] for k in COUNTERS})
        for j in c["job_spans"]:
            if j["start_ms"] is not None and j["end_ms"] is not None:
                self.record(f"job {j['job']}", "job", j["start_ms"] / 1e3 - self.t0_wall,
                            j["end_ms"] / 1e3 - self.t0_wall, parent=s["id"])
        tot = self.layer_totals.setdefault(layer, dict.fromkeys(COUNTERS, 0))
        for k in COUNTERS:
            tot[k] += c[k]
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], ())
                if c["end"] is not None
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            key = s["name"] if s["kind"] != "job" else "spark_job"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
        return out


def spark_layer_metrics(tr: Tracer, n_passes: int, pass_walls: list[float]) -> dict:
    """Per-pass averages of every Spark layer's counters, plus core use:
    executor run time / (cores x wall of the traced passes)."""
    out = {}
    run_s = 0.0
    for layer in SPARK_LAYERS:
        tot = tr.layer_totals.get(layer, dict.fromkeys(COUNTERS, 0))
        run_s += tot["executor_run_s"]
        for c in COUNTERS:
            out[f"{layer}.{c}"] = tot[c] / max(1, n_passes)
    wall = sum(pass_walls)
    out["spark.core_util"] = run_s / (nproc() * wall) if wall else 0.0
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)

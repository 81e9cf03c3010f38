"""Shared plumbing of the benchmark: paths, Spark session, spans, the CPU
meter, memory sampling, the host-drift sentinel, percentiles and the
Spark event log.

Everything the benchmark writes lives under ``.perfbench_cache/`` in the
directory it is started from (the repository root).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(ROOT, ".perfbench_cache")
TMP = os.path.join(CACHE, "tmp")
OUT_MASK = 0xFFFFFFFF
# local[N] runs the executors inside the driver JVM: this is all the heap
HEAP = "2g"
# a fixed young generation: the collector's adaptive young sizing (a
# pause-time heuristic) would otherwise decide how much of the heap gets
# touched, and with it the peak resident memory
YOUNG = "512m"
# G1 grows the heap when collection takes more than 1/(1 + ratio) of the
# time.  At the default (12) that test follows host load, and peak
# resident memory came out at one of two levels ~400 MB apart.  At 1 the
# heap grows only when the program's data needs it.
GC_TIME_RATIO = 1
# the JVM's JIT compiler threads (names as /proc truncates them): tiered
# compilation of Spark's code goes on well past the warm-up, at a pace
# that varies from run to run.  It is JVM warm-up, not work of the
# program, so ``cpu_s`` leaves it out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
TICKS = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def input_dir(workload: str, seed: int, size: int) -> str:
    """Per-(workload, seed, size) cache of generated inputs and oracles."""
    return os.path.join(CACHE, "inputs", f"{workload}-s{seed}-n{size}")


def work_dir(name: str) -> str:
    """A scratch directory emptied at every call."""
    import shutil

    path = os.path.join(CACHE, "work", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def confine_to_checkout() -> None:
    """Point every temp/scratch location of Python, the JVM and its Python
    workers at the cache directory, before the JVM starts."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # where the Python workers' daemon finds ``reaping_daemon``
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = TMP


def start_spark(event_log: str | None = None):
    from kelos_on_kafka_spark.plans.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        # compiler threads that never exit keep their CPU time in view of
        # ``cpu_s``, which subtracts it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData -Xmn{YOUNG} "
            f"-XX:GCTimeRatio={GC_TIME_RATIO} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.daemon.module": "reaping_daemon",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in (and with it the Python
    workers), and wait until the JVM has exited, so that its teardown
    does not overlap whatever runs next."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as one
    JSON file at the end of a traced run.  Disabled tracers record
    nothing, so the untraced code path is the same code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapped

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children
        (children of one span never overlap: the driver is one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]]
            )
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as a
    dict (the same shape as ``StreamingQuery.recentProgress``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


# ---------------------------------------------------------------------------
# memory, host drift, percentiles
# ---------------------------------------------------------------------------


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1 : s.rindex(")")], s[s.rindex(")") + 1 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            fields = _stat(stat)[1]
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def cpu_s() -> float:
    """User + system CPU seconds used so far by this process's
    descendants (the JVM and its Python workers, with the workers they
    have reaped), less the JVM's JIT compiler threads.  While other
    tenants hold the host's cores it grows far less than wall time."""
    kids = _children()
    ticks, todo = 0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            name, f = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
            if name != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                tname, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                if tname.startswith(JIT_THREADS):
                    ticks -= int(tf[11]) + int(tf[12])
        except OSError:
            continue
    return ticks / TICKS


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    are split between them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants
    (the JVM and its Python workers), sampled from /proc; ``exclude``
    drops a subtree (the load generator)."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_kb = max(self.peak_kb, self.sample())

    def start(self) -> "RssSampler":
        self.peak_kb = self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (again is a no-op); returns the peak in MB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        return self.peak_kb / 1024.0


def host_sentinel() -> dict[str, float]:
    """Fixed pure-NumPy loop (min of 5) and the 1-minute loadavg, read
    before each run so a throttled host shows apart from code changes."""
    import numpy as np

    x = np.random.default_rng(0).random(200_000)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(5):
            np.sort(x)
            np.cumsum(x)
        best = min(best, time.perf_counter() - t0)
    return {"host.sentinel_ms": best * 1000.0, "host.loadavg": os.getloadavg()[0]}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values))


def closed_loop(action, seconds: float, rows: int, label: str) -> dict:
    """Run ``action() -> (seconds, ok)`` back to back for ``seconds`` (at
    least once).  A raise counts as a failure and is reported; throughput,
    latency and CPU per row are taken over the actions that completed."""
    times, cpus, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        c0 = cpu_s()
        try:
            dt, ok = action()
        except Exception as exc:  # counted, reported, never hidden
            print(f"{label} failed: {exc!r}", flush=True)
            traceback.print_exc()
            dt, ok = float("nan"), False
        times.append(dt)
        cpus.append(cpu_s() - c0)
        failed += not ok
    good = [t for t in times if t == t]
    good_cpu = [c for t, c in zip(times, cpus) if t == t]
    return {
        "attempted": len(times),
        "failed": failed,
        "samples": len(good),
        "cpu_us_per_row": median(good_cpu) / rows * 1e6 if good else 0.0,
        "rows_per_s": rows / median(good) if good else 0.0,
        "latency_p50_ms": median(good) * 1000.0 if good else 0.0,
        "latency_p95_ms": percentile(good, 95) * 1000.0 if good else 0.0,
        "e2e_s": median(good) if good else 1.0,
    }


# ---------------------------------------------------------------------------
# fingerprints: (rows, sum of 32-bit row hashes) -- order-insensitive and
# computed by the same Spark expression on the engine output and the oracle
# ---------------------------------------------------------------------------


def fingerprint_exprs(cols):
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(OUT_MASK))), F.lit(0)
        ).alias("hash"),
    ]


def fingerprint(df, cols) -> dict[str, int]:
    row = df.agg(*fingerprint_exprs(cols)).collect()[0]
    return {"rows": int(row["rows"]), "hash": int(row["hash"])}


def observed(df, cols):
    """Attach the fingerprint to ``df`` as an observation, so the timed
    action itself yields it; returns (df, observation)."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *fingerprint_exprs(cols)), obs


def read_fp(obs) -> dict[str, int]:
    got = obs.get
    return {"rows": int(got["rows"]), "hash": int(got["hash"])}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Parsed Spark event log of one application: jobs tagged with the
    ``perfbench.span`` local property, their stages' tasks, and the SQL
    metrics of their executions."""

    def __init__(self, log_dir: str):
        files = [
            p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")
        ] or glob.glob(os.path.join(log_dir, "*"))
        self.job_span: dict[int, str] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.acc_meta: dict[int, tuple[int, str, str, str]] = {}
        self.acc_value: dict[int, int] = {}
        self.exec_times: dict[int, list[float]] = {}
        self.exec_desc: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (
                exec_id, info.get("nodeName", ""),
                info.get("simpleString", ""), m["name"],
            )
        for c in info.get("children", []):
            self._plan(exec_id, c)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_span[jid] = props.get("perfbench.span", "")
            if props.get("spark.sql.execution.id") is not None:
                self.job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sw = metrics.get("Shuffle Write Metrics", {})
            sr = metrics.get("Shuffle Read Metrics", {})
            self.tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": metrics.get("Executor Run Time", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "read_records": sr.get("Total Records Read", 0),
                    "failed": info.get("Failed", False),
                }
            )
        elif kind == "SparkListenerStageCompleted":
            for acc in ev["Stage Info"].get("Accumulables", []):
                try:
                    val = int(acc.get("Value"))
                except (TypeError, ValueError):
                    continue
                # the value after the stage, not a delta
                self.acc_value[acc["ID"]] = max(self.acc_value.get(acc["ID"], 0), val)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in ev.get("accumUpdates", []):
                self.acc_value[acc_id] = self.acc_value.get(acc_id, 0) + int(val)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = ev["executionId"]
            self.exec_times[eid] = [ev["time"] / 1000.0, None]
            self.exec_desc[eid] = ev.get("physicalPlanDescription", "")
            self._plan(eid, ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["executionId"], ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.exec_times:
                self.exec_times[ev["executionId"]][1] = ev["time"] / 1000.0

    def execution_ms(self, desc_pred) -> list[float]:
        """Durations of the finished SQL executions whose physical plan
        description satisfies ``desc_pred``."""
        return [
            (end - start) * 1000.0
            for eid, (start, end) in self.exec_times.items()
            if end is not None and desc_pred(self.exec_desc.get(eid, ""))
        ]

    def stages(self, span: str) -> list[int]:
        """Stage ids of the jobs tagged ``span``, ascending."""
        return sorted(
            sid for sid, jid in self.stage_job.items()
            if self.job_span.get(jid) == span and sid in self.tasks
        )

    def executions(self, span: str) -> set[int]:
        return {
            e for j, e in self.job_exec.items() if self.job_span.get(j) == span
        }

    def sql_metric(self, span: str, node_pred, metric: str) -> list[int]:
        """Values of SQL metric ``metric`` on the plan nodes of the span's
        executions that satisfy ``node_pred(node_name, simple_string)``."""
        execs = self.executions(span)
        return [
            self.acc_value[acc]
            for acc, (eid, node, simple, name) in self.acc_meta.items()
            if eid in execs and name == metric and acc in self.acc_value
            and node_pred(node, simple)
        ]

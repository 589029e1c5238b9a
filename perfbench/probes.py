"""Per-layer measurement for ``--trace 1`` runs.

Everything is read from outside the program: Spark's own status store and
Catalyst phase tracker over py4j, a ``StreamingQueryListener``, ``/proc``
for process CPU and memory, and wall-clock spans recorded by wrapping the
public functions the ``fhir-etl`` CLI calls. No file of the program is
edited; the wrappers are installed on the imported modules for the run.
"""

from __future__ import annotations

import functools
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children), in seconds."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if children else 0)
    return ticks / CLK_TCK


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def pyworkers_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python workers: the daemon and its live forks, with
    the CPU of exited forks counted through the daemon's reaped children."""
    total = 0.0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
        except OSError:
            continue
        total += cpu_s(pid, children=True)
    return total


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


class SparkStatus:
    """Jobs and stages from the application status store (readable with the
    UI off). ``new_jobs`` returns the jobs submitted since its last call,
    once the listener bus has delivered every event posted before it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self.cores = sc.defaultParallelism
        self._seen = -1
        self.new_jobs()

    def new_jobs(self) -> tuple[list[dict], dict[int, dict]]:
        # the store is filled from the asynchronous listener bus: let it
        # deliver every event posted so far, so no finished job is missed
        self._bus.waitUntilEmpty()
        jobs: list[dict] = []
        for j in self._conv.asJava(self._store.jobsList(None)):  # newest first
            jid = j.jobId()
            if jid <= self._seen:
                break
            jobs.append({
                "id": jid,
                "t0": _ms(j.submissionTime()),
                "t1": _ms(j.completionTime()),
                "stages": list(self._conv.asJava(j.stageIds())),
            })
        if jobs:
            self._seen = max(j["id"] for j in jobs)
        stages: dict[int, dict] = {}
        for sid in {s for j in jobs for s in j["stages"]}:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # never submitted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            stages[sid] = {
                "tasks": s.numTasks(), "failed": s.numFailedTasks(),
                "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(), "gc_ms": s.jvmGcTime(),
                "in": s.inputBytes(), "out": s.outputBytes(),
                "shr": s.shuffleReadBytes(), "shw": s.shuffleWriteBytes(),
                "t0": _ms(s.submissionTime()), "t1": _ms(s.completionTime()),
            }
        return jobs, stages


def _ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spark_summary(jobs: list[dict], stages: dict[int, dict], cores: int) -> dict[str, float]:
    now = time.time() * 1000
    busy = union_s([(j["t0"], j["t1"] or now) for j in jobs if j["t0"] is not None]) / 1000
    run_s = sum(s["run_ms"] for s in stages.values()) / 1000
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages.values()),
        "spark.failed_tasks": sum(s["failed"] for s in stages.values()),
        "spark.job_busy_s": busy,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages.values()) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages.values()) / 1000,
        "spark.input_bytes": sum(s["in"] for s in stages.values()),
        "spark.output_bytes": sum(s["out"] for s in stages.values()),
        "spark.shuffle_read_bytes": sum(s["shr"] for s in stages.values()),
        "spark.shuffle_write_bytes": sum(s["shw"] for s in stages.values()),
        "spark.core_util": run_s / (busy * cores) if busy else 0.0,
        "spark.single_task_stage_s": sum(
            ((s["t1"] or now) - s["t0"]) / 1000
            for s in stages.values() if s["tasks"] == 1 and s["t0"] is not None
        ),
    }


def jobs_within(jobs: list[dict], spans: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the wall-clock ``spans`` (seconds)."""
    return [j for j in jobs if j["t0"] is not None and any(a * 1000 <= j["t0"] <= b * 1000 for a, b in spans)]


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms from the DataFrame's own
    QueryExecution tracker (the action runs on that same QueryExecution)."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(df._jdf.queryExecution().tracker().phases())
    return {f"catalyst.{k}_ms": float(phases.get(k).durationMs()) for k in phases.keySet()}


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def stream_listener():
    """A registered-on-demand listener that keeps a plain summary of every
    progress event and the set of started/terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamTrace(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started: set[str] = set()
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            with self.lock:
                self.progress.append({
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs or {}),
                    "state_total": sum(s.numRowsTotal for s in ops),
                    "state_updated": sum(s.numRowsUpdated for s in ops),
                    "state_bytes": sum(s.memoryUsedBytes for s in ops),
                    "state_update_ms": sum(s.allUpdatesTimeMs for s in ops),
                    "state_commit_ms": sum(s.commitTimeMs for s in ops),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.id))

        def drain(self, timeout: float = 10.0) -> list[dict]:
            """Progress since the last drain, once every started query has
            reported termination (events arrive asynchronously)."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if self.started <= self.terminated:
                        break
                time.sleep(0.05)
            with self.lock:
                out, self.progress = self.progress, []
                self.started, self.terminated = set(), set()
            return out

    return StreamTrace()


def stream_summary(progress: list[dict], op_wall_s: float) -> dict[str, float]:
    def ms(key: str) -> float:
        return sum(p["ms"].get(key, 0) for p in progress) / 1000

    last = progress[-1] if progress else {}
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["rows"] for p in progress),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.planning_s": ms("queryPlanning"),
        "streaming.log_commit_s": ms("walCommit") + ms("commitOffsets"),
        "streaming.start_stop_s": op_wall_s - ms("triggerExecution") if progress else 0.0,
        "streaming.state_update_s": sum(p["state_update_ms"] for p in progress) / 1000,
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in progress) / 1000,
        "streaming.state_rows_total": last.get("state_total", 0),
        "streaming.state_rows_updated": sum(p["state_updated"] for p in progress),
        "streaming.state_bytes": last.get("state_bytes", 0),
    }


# ---------------------------------------------------------------------------
# wall-clock spans around public functions
# ---------------------------------------------------------------------------


class Spans:
    """Records ``(name, t0, t1, info)`` for every call of a wrapped function.
    Thread-safe: the builders are constructed on a thread pool."""

    def __init__(self):
        self.records: list[tuple[str, float, float, dict]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, info=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.records.append((name, t0, time.time(), info(*args, **kwargs) if info else {}))

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, fn))

    def take(self) -> list[tuple[str, float, float, dict]]:
        out, self.records = self.records, []
        return out

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo = []


def total_s(records, name: str) -> float:
    return sum(t1 - t0 for n, t0, t1, _ in records if n == name)

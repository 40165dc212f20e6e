"""What every workload shares: percentiles, the run stamp, peak RSS,
Spark's own job/stage counters and the session lifecycle."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import subprocess
import time

TAIL_BEYOND = 10  # samples a tail percentile must leave beyond it


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)`` of the highest whole percentile that
    leaves at least ``TAIL_BEYOND`` samples strictly beyond it (nearest
    rank).  With ``2 * TAIL_BEYOND`` samples or fewer no percentile above
    the median qualifies, and the median is returned as percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 2 * TAIL_BEYOND:
        return statistics.median(xs), 50, n
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = math.ceil(pct * n / 100)  # 1-based, <= n - TAIL_BEYOND
    return xs[rank - 1], pct, n


def host_cpus_honoured() -> int:
    return len(os.sched_getaffinity(0))


def git_sha(root: str) -> str:
    """HEAD of the checkout at ``root``, or ``unknown`` outside git."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int:
    """Pid of the Spark driver JVM behind the py4j gateway (the
    launcher execs java, so the gateway's process is the JVM)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """High-water RSS of this driver process plus the Spark JVM."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid())) / 1024.0


def start_session(app: str):
    from django_datastream_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def box_probe(spark, reps: int = 5) -> list[float]:
    """Seconds per run of one fixed trivial job, ``reps`` times."""
    n = spark.sparkContext.defaultParallelism
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 200_000, 1, n).selectExpr("sum(id) AS s").collect()
        out.append(time.perf_counter() - t0)
    return out


class SparkCounters:
    """Jobs, stages, tasks and executor/shuffle totals per job group,
    read from ``statusTracker()`` and the JVM status store."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                out["stages"] += 1
                seq = self.store.stageData(sid, False, None, False, None)
                it = seq.iterator()
                while it.hasNext():
                    d = it.next()
                    out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                    out["failed_tasks"] += d.numFailedTasks()
                    out["executor_run_s"] += d.executorRunTime() / 1e3
                    out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        return out


def add_into(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v


def dir_files_bytes(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Ops:
    """Runs the timed ops of a workload: times each, counts attempts and
    failures, and in a traced run gives each op a root span and its own
    Spark job group so its jobs, stages and tasks can be counted."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = None
        self.counters: SparkCounters | None = None
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark_by_kind: dict[str, dict[str, float]] = {}
        self.traced_ops: dict[str, int] = {}
        self.collect_s = 0.0
        self._pending: list[tuple[str, str]] = []
        self._next_id = 0

    def trace_with(self, tracer) -> None:
        """Trace the ops run from now on."""
        self.tracer = tracer
        self.counters = SparkCounters(self.spark)

    def run(self, kind: str, fn, traced: bool = True):
        """Run ``fn`` as one op of ``kind``; return ``(result, seconds)``,
        or ``(None, None)`` when it raised (counted as failed).  In a
        traced run an op with ``traced=False`` runs with the original,
        unwrapped functions, so traced minus untraced is the whole cost
        of tracing."""
        op_id = self._next_id
        self._next_id += 1
        tracing = self.tracer is not None and traced
        scope = contextlib.nullcontext()
        if tracing:
            group = f"perfbench-{op_id}-{kind}"
            self.sc.setJobGroup(group, kind)
            self.tracer.begin_op(op_id, group)
            scope = self.tracer.span("op." + kind)
        elif self.tracer is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            scope = self.tracer.bare()
        self.attempted += 1
        try:
            with scope:
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed op is a measured outcome
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return None, None
        self.samples.setdefault(kind, []).append(dt)
        if tracing:
            self.traced_ops[kind] = self.traced_ops.get(kind, 0) + 1
            self._pending.append((kind, group))
        return result, dt

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:500])

    def collect_counters(self) -> None:
        """Fold the Spark counters of traced ops run since the last call
        (run between passes, outside any op's timing)."""
        if self.counters is None:
            return
        t0 = time.perf_counter()
        for kind, group in self._pending:
            add_into(self.spark_by_kind.setdefault(kind, {}), self.counters.group(group))
        self._pending.clear()
        self.collect_s += time.perf_counter() - t0

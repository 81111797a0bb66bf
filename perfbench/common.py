"""Shared machinery for the benchmark: timing helpers, run hygiene
(work directory, free-disk guard, peak RSS) and the span tracer.

Tracing: a span marks its Spark jobs with its own job group and times the
call on the driver. While tracing is on, Spark's own EventLoggingListener
is attached to the running SparkContext and writes a plain-JSON event log
into the run's work directory; detaching it turns tracing off again, so
only the traced part of a run is logged. After the run the log is folded
into per-span counters: jobs, shuffle bytes written, bytes spilled to disk
and bytes crossing the Python-worker boundary.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# A run stops starting operations once the work directory's file system
# has less than this much free space; the skipped operation counts as failed.
MIN_FREE_BYTES = 2 * 1024**3

SHUFFLE_WRITTEN = "internal.metrics.shuffle.write.bytesWritten"
DISK_SPILLED = "internal.metrics.diskBytesSpilled"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_COUNTED = (SHUFFLE_WRITTEN, DISK_SPILLED, PY_SENT, PY_RETURNED)
# driver-side scan metric: bytes of the files a scan opened
FILES_READ = "size of files read"
_SQL = "org.apache.spark.sql.execution.ui."

COUNTERS = ("wall_s", "jobs", "shuffle_mb", "spill_mb", "python_mb")


EARTH_RADIUS_KM = 6371.0


def median(values):
    return statistics.median(values) if values else 0.0


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in the engine's haversine form (numpy)."""
    import numpy as np

    lat1, lon1, lat2, lon2 = map(np.radians, (lat1, lon1, lat2, lon2))
    a = (1.0 - np.cos(lat1 - lat2)) / 2.0 + np.cos(lat1) * np.cos(lat2) * (
        1.0 - np.cos(lon1 - lon2)
    ) / 2.0
    return EARTH_RADIUS_KM * 2.0 * np.arcsin(np.sqrt(a))


def write_parquet(table, path: str, files: int = 8) -> None:
    """Stage a table as a directory of `files` parquet files, so Spark
    reads it with one task per core instead of one task per file."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"),
            use_dictionary=False,
        )


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def disk_ok(path: str) -> bool:
    return shutil.disk_usage(path).free >= MIN_FREE_BYTES


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(f) for f in fields[11:15])


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by this driver process, the JVM and every
    process the JVM started (time the hypervisor steals is not counted)."""
    pids = [os.getpid(), jvm_pid] + descendants(jvm_pid)
    return sum(_cpu_ticks(p) for p in pids) / _TICK


def peak_rss_mb(jvm_pid: int) -> list[float]:
    """Peak resident set sizes (MB) of the JVM, then of every process it
    started (the PySpark daemon and its Python workers, which Spark reuses
    for the life of the session)."""
    return [_hwm_kb(p) / 1024.0 for p in [jvm_pid] + descendants(jvm_pid)]


class Tracer:
    """Spans as Spark job groups plus a toggleable event log.

    ``span(name)`` always times the call; when tracing is on it also tags
    the Spark jobs the call runs with a job group unique to this
    invocation. ``per_span()`` returns, for every span name, the median
    over its traced invocations of each counter in COUNTERS, plus the
    bytes of the files its scans opened (for read-amplification ratios).
    """

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = self.sc._jvm.ProcessHandle.current().pid()
        self.log_dir = log_dir
        self.on = False
        self._listener = None
        self._n = 0
        self._bus_cpu0 = 0.0
        # what tracing itself cost: driver wall in the tracer's own calls
        # plus CPU of the listener thread that writes the event log
        self.overhead_s = 0.0
        self.invocations: dict[str, list[tuple[str, float]]] = defaultdict(list)
        os.makedirs(log_dir, exist_ok=True)

    def _bus_cpu_s(self) -> float:
        """CPU seconds of the listener-bus thread that serves listeners
        added with addSparkListener (the "shared" queue)."""
        jvm = self.sc._jvm
        mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        return sum(
            mx.getThreadCpuTime(t.getId())
            for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
            if t.getName() == "spark-listener-group-shared"
        ) / 1e9

    def start(self) -> None:
        t = time.perf_counter()
        self._bus_cpu0 = self._bus_cpu_s()
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._n += 1
        uri = jvm.java.net.URI("file://" + os.path.abspath(self.log_dir))
        # plain JSON, one file per traced stretch
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"trace-{self._n}", jvm.scala.Option.empty(), uri,
            conf, jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        self.on = True
        self.overhead_s += time.perf_counter() - t

    def stop(self) -> None:
        if self._listener is None:
            return
        t = time.perf_counter()
        # deliver every queued event before detaching, or the tail of the
        # traced work never reaches the log
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        self.sc._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        self.on = False
        self.overhead_s += time.perf_counter() - t
        self.overhead_s += self._bus_cpu_s() - self._bus_cpu0

    @contextmanager
    def span(self, name: str, op: dict | None = None):
        """Time one call into a layer. ``op`` (if given) receives its wall
        and CPU seconds as op["wall"], op["cpu"]."""
        group = None
        if self.on:
            t = time.perf_counter()
            group = f"{name}#{len(self.invocations[name])}"
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        c = cpu_seconds(self.jvm_pid) if op is not None else 0.0
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            if op is not None:
                op["wall"] = dt
                op["cpu"] = cpu_seconds(self.jvm_pid) - c
            if group is not None:
                t = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.invocations[name].append((group, dt))
                self.overhead_s += time.perf_counter() - t

    def _fold_logs(self) -> dict[str, dict[str, float]]:
        """group -> {"jobs": n, <accumulable name>: summed task updates,
        FILES_READ: summed scan file bytes}."""
        sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(os.path.join(self.log_dir, "trace-*"))):
            stage_group: dict[int, str] = {}
            exec_group: dict[int, str] = {}
            files_read_ids: set[int] = set()
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind in (_SQL + "SparkListenerSQLExecutionStart",
                                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                        if ev.get("jobGroupId"):
                            exec_group[ev["executionId"]] = ev["jobGroupId"]
                        todo = [ev["sparkPlanInfo"]]
                        while todo:
                            node = todo.pop()
                            todo.extend(node.get("children", []))
                            files_read_ids.update(
                                m["accumulatorId"] for m in node.get("metrics", [])
                                if m.get("name") == FILES_READ
                            )
                    elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                        g = exec_group.get(ev.get("executionId"))
                        for acc_id, value in ev.get("accumUpdates", []):
                            if g and acc_id in files_read_ids:
                                sums[g][FILES_READ] += float(value)
                    elif kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g:
                            sums[g]["jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g:
                            stage_group[ev["Stage Info"]["Stage ID"]] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"))
                        if g is None:
                            continue
                        for acc in ev["Task Info"].get("Accumulables", []):
                            nm = acc.get("Name")
                            if nm in _COUNTED and "Update" in acc:
                                sums[g][nm] += float(acc["Update"])
        return sums

    def per_span(self) -> dict[str, dict[str, float]]:
        sums = self._fold_logs()
        out = {}
        for name, calls in self.invocations.items():
            rows = []
            for group, wall in calls:
                s = sums.get(group, {})
                rows.append(
                    {
                        "wall_s": wall,
                        "jobs": s.get("jobs", 0.0),
                        "shuffle_mb": s.get(SHUFFLE_WRITTEN, 0.0) / MB,
                        "spill_mb": s.get(DISK_SPILLED, 0.0) / MB,
                        "python_mb": (s.get(PY_SENT, 0.0) + s.get(PY_RETURNED, 0.0)) / MB,
                        "files_read_mb": s.get(FILES_READ, 0.0) / MB,
                    }
                )
            out[name] = {k: median([r[k] for r in rows]) for k in rows[0]}
        return out

"""Measurement from outside the engine: job groups, status-store deltas,
process-tree RSS and in-memory spans.

Every number here is read from the running SparkContext's in-process status
store (``AppStatusStore``), which Spark keeps with ``spark.ui.enabled=false``.
The engine is never modified or wrapped: the benchmark sets a job group
around each public call, waits for the listener bus to drain, and reads the
stages that the call's jobs ran.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import threading
import time

from py4j.protocol import Py4JJavaError

# stage fields summed into a span, as (status-store getter, record key)
STAGE_FIELDS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("inputBytes", "input_bytes"),
    ("outputBytes", "output_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("shuffleWriteRecords", "shuffle_write_records"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("memoryBytesSpilled", "spill_memory_bytes"),
    ("diskBytesSpilled", "spill_disk_bytes"),
)


class StatusProbe:
    """Reads job and stage records of one SparkContext's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._seen_job = -1
        self.jobs_since_last(None)

    def jobs_since_last(self, group: str | None) -> list[dict]:
        """One record per job of ``group`` that started since the last call:
        job id, submission time (epoch ms) and its stages' summed fields."""
        # status updates arrive through the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)  # newest first
        out = []
        newest = self._seen_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            grp = job.jobGroup()
            if group is None or grp.isEmpty() or grp.get() != group:
                continue
            submitted = job.submissionTime()
            rec = {
                "job_id": jid,
                "submit_ms": submitted.get().getTime() if submitted.isDefined() else 0,
                "stages": 0,
                **{key: 0 for _, key in STAGE_FIELDS},
            }
            ids = job.stageIds()
            for j in range(ids.size()):
                self._add_stage(rec, int(ids.apply(j)))
            out.append(rec)
        self._seen_job = newest
        return out

    def _add_stage(self, rec: dict, stage_id: int) -> None:
        try:
            attempts = self._store.stageData(
                stage_id, False, self._no_tasks, False, self._no_quantiles
            )
        except Py4JJavaError:  # listed but never submitted (NoSuchElementException)
            return
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            for getter, key in STAGE_FIELDS:
                rec[key] += int(getattr(st, getter)())


def total(jobs: list[dict]) -> dict:
    """Sum per-job records into one span delta."""
    out = {"jobs": len(jobs), "stages": 0, **{key: 0 for _, key in STAGE_FIELDS}}
    for rec in jobs:
        for key in out:
            if key != "jobs":
                out[key] += rec[key]
    return out


class Tracer:
    """Spans kept in memory, written once at the end of a run.

    Every span sets a Spark job group. Only with ``enabled=True`` does a span
    drain the listener bus and read the status store, so untraced timings
    carry no probe cost.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.probe = StatusProbe(spark) if enabled else None
        self.spans: list[dict] = []
        self.probe_s = 0.0  # wall time spent reading the status store
        self._next_id = 0

    def span(self, name: str, parent: int | None = None, probe: bool = True, **attrs):
        """``probe=False`` for a span whose jobs all run in child spans."""
        return _Span(self, name, parent, probe, attrs)

    def write(self, path: str, header: dict) -> None:
        """One JSON line for ``header`` (run context), then one per span."""
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent, probe: bool, attrs: dict):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.probe = probe
        self.id = tracer._next_id
        tracer._next_id += 1
        self.jobs: list[dict] = []
        self.record: dict = {}

    def __enter__(self):
        self.group = f"perfbench-{self.name}-{self.id}"
        if self.probe:
            self.tracer.spark.sparkContext.setJobGroup(self.group, self.name)
        self.start = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.wall_s = time.perf_counter() - self.t0
        tr = self.tracer
        if self.probe:
            tr.spark.sparkContext.setJobGroup("perfbench-idle", "between calls")
        if tr.enabled:
            self.record = {
                "id": self.id, "parent": self.parent, "name": self.name,
                "start_s": self.start, "wall_ms": self.wall_s * 1000.0, **self.attrs,
            }
            if self.probe:
                tp = time.perf_counter()
                self.jobs = tr.probe.jobs_since_last(self.group)
                tr.probe_s += time.perf_counter() - tp
                self.record.update(total(self.jobs))
            tr.spans.append(self.record)
        return False


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS kB by pid) of every process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue  # process ended while we looked
        rss[int(entry)] = kb
        children.setdefault(ppid, []).append(int(entry))
    return children, rss


def descendants(root: int, table=None) -> list[int]:
    children, _ = table or _process_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_kb(root: int) -> int:
    """RSS of ``root``'s descendants: the driver JVM and the Python workers
    it forks."""
    table = _process_table()
    return sum(table[1].get(pid, 0) for pid in descendants(root, table))


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end its JVM and wait for every child process.

    The JVM that PySpark launches exits when its stdin closes; the Python
    worker daemon exits with it.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak RSS of this process's descendants, sampled on a thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return False

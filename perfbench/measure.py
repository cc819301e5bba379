"""Measurement helpers: spans, /proc readings, Spark event-log and JVM GC
summaries. Everything here observes the program from outside."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans around calls into the program's public functions.

    A span is (name, start, end, parent, op). ``enabled=False`` makes
    ``span`` a bare ``yield`` so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "items", None)
        if stack is None:
            stack = self._stack.items = []
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1]["id"] if stack else None, "op": op}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed durations minus the part of each
        span's interval that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"]:
                covered = union_length([(max(a, s["start"]), min(b, s["end"]))
                                        for a, b in kids.get(s["id"], [])])
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - covered
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- /proc -------------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started, from /proc (so interpreter
    start-up counts towards set-up time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def loadavg_1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_ms() -> float:
    """Host speed probe: the median time of a fixed single-threaded loop.
    A diagnostic for changes in the host's speed that steal % misses."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t)
    return 1000.0 * sorted(times)[1]


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --- JVM ---------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when the
    gateway's stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def retained_mb(spark) -> float:
    """Memory the driver JVM still holds after full collections: live
    heap plus non-heap (metaspace, code cache). Unlike the JVM's resident
    size it does not depend on how far the collector chose to grow the
    heap. Three collections 0.3 s apart: state that Spark's cleaner
    releases only once a collection has found its owner unreachable
    (about 90 MB after some analytics runs) is gone by the last one."""
    jvm = spark._jvm  # noqa: SLF001
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(3):
        time.sleep(0.3)
        jvm.java.lang.System.gc()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def gc_totals(spark) -> tuple[float, int]:
    """(collection seconds, collection count) summed over the GC MXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()  # noqa: SLF001
    secs, count = 0.0, 0
    for i in range(beans.size()):
        b = beans.get(i)
        secs += max(0, b.getCollectionTime()) / 1000.0
        count += max(0, b.getCollectionCount())
    return secs, count


# --- Spark event log ---------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application that logged into ``log_dir``."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass  # a torn last line of an in-progress log
    return events


def spark_summary(events: list[dict], t0: float, t1: float) -> tuple[dict, dict[str, list]]:
    """Job, stage and task totals for jobs submitted within [t0, t1]
    (epoch seconds), plus each job group's job intervals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            sub = e["Submission Time"] / 1000.0
            if t0 <= sub <= t1:
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {"start": sub, "end": sub, "group": group}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
    out = {
        "spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0,
        "spark.job_s": union_length([(j["start"], j["end"]) for j in jobs.values()]),
        "spark.task_run_s": 0.0, "spark.task_cpu_s": 0.0, "spark.task_wait_s": 0.0,
        "spark.shuffle_read_mb": 0.0, "spark.shuffle_write_mb": 0.0,
        "spark.spill_mb": 0.0, "spark.task_failures": 0,
    }
    stage_submit: dict[tuple[int, int], float] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job and info.get("Submission Time"):
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stage_job:
                out["spark.stages"] += 1
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            out["spark.tasks"] += 1
            info = e.get("Task Info") or {}
            if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason") not in (None, "Success"):
                out["spark.task_failures"] += 1
            sub = stage_submit.get((e["Stage ID"], e.get("Stage Attempt ID", 0)))
            if sub is not None and info.get("Launch Time"):
                out["spark.task_wait_s"] += max(0.0, info["Launch Time"] / 1000.0 - sub)
            m = e.get("Task Metrics") or {}
            out["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            out["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    groups: dict[str, list] = {}
    for j in jobs.values():
        if j["group"]:
            groups.setdefault(j["group"], []).append((j["start"], j["end"]))
    return out, groups

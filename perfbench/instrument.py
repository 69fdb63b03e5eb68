"""Measurement helpers: spans, host context, Spark worker memory and the
Spark event log. Nothing here imports the program under test."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid


class Tracer:
    """In-memory span recorder. Spans are taken from the benchmark's own
    code around each call into a layer; ``enabled=False`` keeps the same
    call structure but records nothing (the untraced run)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self.spans[self._stack[-1]]["id"] if self._stack else None,
            "id": idx,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def host_context() -> dict:
    """nproc, 1-min load average and CPU model. Recorded beside each run so
    a noisy verdict can be traced to co-tenant load; never used to gate or
    rescale a result."""
    model = "unknown"
    with contextlib.suppress(OSError):
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "cpu_model": model,
    }


def proc_tree(root: int) -> list[int]:
    """Pids of all live descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def spark_python_workers() -> list[int]:
    """Pids of the Spark Python daemon and workers started by this process."""
    pids = []
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            pids.append(pid)
    return pids


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def workers_hwm_mb() -> float:
    """Summed peak resident set (VmHWM) of the Spark Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in spark_python_workers()) / 1024


def workers_cpu_s() -> float:
    """CPU seconds used so far by the live Spark Python workers, including
    workers that already exited and were reaped by the daemon."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in spark_python_workers():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / tick


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Per job description, the list of jobs run under it. Each job has its
    tasks' metrics summed, plus the per-task run times (for skew)."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                    job = {
                        "desc": desc,
                        "start": ev["Submission Time"],
                        "tasks": 0,
                        "run_ms": [],
                        "cpu_ns": 0,
                        "gc_ms": 0,
                        "shuffle_write_bytes": 0,
                        "input_records": 0,
                    }
                    jobs[(app, ev["Job ID"])] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[(app, sid)] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"].append(m["Executor Run Time"])
                    job["cpu_ns"] += m["Executor CPU Time"]
                    job["gc_ms"] += m["JVM GC Time"]
                    job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["input_records"] += m["Input Metrics"]["Records Read"]
    by_desc: dict[str, list[dict]] = {}
    for job in sorted(jobs.values(), key=lambda j: j["start"]):
        by_desc.setdefault(job["desc"], []).append(job)
    return by_desc


def job_totals(jobs: list[dict]) -> dict:
    """Sum a group of jobs (e.g. all jobs of one timed pass). ``skew`` is
    max over median task run time in the group's longest job."""
    run_ms = max((j["run_ms"] for j in jobs), key=sum, default=[])
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 2**20,
        "input_records": sum(j["input_records"] for j in jobs),
        "skew": max(run_ms) / max(statistics.median(run_ms), 1) if run_ms else 1.0,
    }

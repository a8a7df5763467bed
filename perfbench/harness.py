"""Measurement machinery shared by the workloads.

Everything here observes the library from outside: a Spark session sized
from the host, an in-memory span tracer, a py4j roundtrip counter wrapped
around the gateway client's ``send_command``, the closed-loop timer, the
process high-water RSS, and a stdlib-``json`` reader for Spark's event log.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import statistics
import subprocess
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------

def host_info() -> dict:
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    ram_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_kb = int(line.split()[1])
                break
    return {"nproc": nproc, "ram_mb": ram_kb // 1024, "python": platform.python_version()}


def spark_conf(work: Path, host: dict) -> dict:
    """``local[nproc]`` with a driver heap far below host RAM (an eighth,
    clamped to 1-4 GB; the inputs are small, and the Python workers and the
    page cache need the rest). The heap starts at its maximum size, so the
    high-water RSS follows the workload rather than heap-resizing
    decisions."""
    nproc = host["nproc"]
    mem_mb = max(1024, min(4096, host["ram_mb"] // 8))
    tmp = work / "tmp"
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": f"-Xms{mem_mb}m -XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "spark.sql.shuffle.partitions": str(2 * nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(work / "eventlog"),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    for key in ("spark.local.dir", "spark.eventLog.dir"):
        Path(conf[key]).mkdir(parents=True, exist_ok=True)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pandas": pandas.__version__, "pyarrow": pyarrow.__version__}


def source_identity() -> dict:
    """The git commit when the checkout is a repository, and always a SHA-1
    over the library sources, so results from a plain file copy still name
    the code they measured."""
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha1()
    files = sorted((ROOT / "json_schemer_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "source_sha1": h.hexdigest()}


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (high-water resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once at
    the end. Spans come from the benchmark's own thread only. A disabled
    tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._open[-1]["id"] if self._open else None, "start": time.time()}
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


class RoundtripCounter:
    """Counts the py4j commands one call sends to the JVM, from any thread.

    Memory-release commands are left out: py4j's finalizer thread sends them
    whenever Python's garbage collector happens to free a proxy, so they
    would make the count depend on collector timing instead of on the
    calls made."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client

    def measure(self, fn):
        """(result of ``fn()``, roundtrips it made)."""
        original = self._client.send_command
        lock = threading.Lock()
        count = 0

        def send_command(command, *args, **kwargs):
            nonlocal count
            if not command.startswith("m\n"):
                with lock:
                    count += 1
            return original(command, *args, **kwargs)

        self._client.send_command = send_command
        try:
            out = fn()
        finally:
            del self._client.send_command
        return out, count


# ---------------------------------------------------------------------------
# closed-loop timing
# ---------------------------------------------------------------------------

class Loop:
    """One client, one operation at a time, for a fixed time budget.

    Every operation is followed (outside the timed interval) by its
    correctness check; an exception in either counts as a failed operation
    and the loop goes on."""

    def __init__(self) -> None:
        self.times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, op, check, seconds: float, tracer: Tracer | None = None, min_ops: int = 1) -> "Loop":
        """Run operations until ``seconds`` have passed and at least
        ``min_ops`` ran in this call; with a tracer, each gets an ``op`` span."""
        start = time.time()
        n = 0
        while n < min_ops or time.time() - start < seconds:
            n += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("op"):
                        result = op()
                else:
                    result = op()
                elapsed = time.perf_counter() - t0
                problem = check(result)
            except Exception:  # noqa: BLE001 - a failed operation is data, not a crash
                self.failed += 1
                self.errors.append(traceback.format_exc(limit=3))
                continue
            if problem:
                self.failed += 1
                self.errors.append(str(problem))
            else:
                self.times.append(elapsed)
        return self

    def median(self) -> float:
        return statistics.median(self.times) if self.times else float("nan")


def median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

class EventLog:
    """Jobs, stages and tasks from Spark's JSON-lines event log."""

    def __init__(self, log_dir: Path) -> None:
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in sorted(Path(log_dir).iterdir()):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"] / 1000.0,
                "stages": list(ev["Stage IDs"]),
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })

    def jobs_in(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0 <= j["submit"] <= t1]

    def summary(self, windows: list[tuple[float, float]], nproc: int) -> dict:
        """Per-operation engine metrics for the jobs submitted inside the
        given operation windows (start, end)."""
        jobs = [j for t0, t1 in windows for j in self.jobs_in(t0, t1)]
        stage_ids = {s for j in jobs for s in j["stages"]}
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        run_s = sum(t["run_ms"] for t in tasks) / 1000.0
        skew = 1.0
        single = 0
        for s in stage_ids:
            ts = self.tasks.get(s, [])
            if len(ts) == 1:
                single += 1
            elif len(ts) > 1:
                med = statistics.median(t["run_ms"] for t in ts)
                skew = max(skew, max(t["run_ms"] for t in ts) / max(med, 1.0))
        wall = sum(t1 - t0 for t0, t1 in windows)
        gap = 0.0
        for t0, t1 in windows:
            busy = []
            for j in sorted(self.jobs_in(t0, t1), key=lambda j: j["submit"]):
                a, b = j["submit"], min(j["end"] if j["end"] is not None else t1, t1)
                if busy and a <= busy[-1][1]:
                    busy[-1][1] = max(busy[-1][1], b)
                else:
                    busy.append([a, b])
            gap += (t1 - t0) - sum(b - a for a, b in busy)
        n = max(len(windows), 1)
        return {
            "spark.jobs": len(jobs) / n,
            "spark.tasks": len(tasks) / n,
            "spark.executor_run_s": run_s / n,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 / n,
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20 / n,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / 2**20 / n,
            "spark.max_task_skew": skew,
            "spark.single_task_stages": single / n,
            "spark.driver_gap_s": max(gap, 0.0) / n,
            "spark.core_busy_frac": run_s / (wall * nproc) if wall > 0 else 0.0,
        }

    def to_json(self) -> dict:
        return {"jobs": self.jobs, "stage_tasks": {s: len(ts) for s, ts in self.tasks.items()}}


# ---------------------------------------------------------------------------
# shutdown and output
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.parent.name))
    return out


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM (it exits when its stdin closes) and
    wait until it and the Python workers it started have exited."""
    proc = spark.sparkContext._gateway.proc
    pids = [proc.pid]
    i = 0
    while i < len(pids):
        pids.extend(_children(pids[i]))
        i += 1
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids[1:]) and time.time() < deadline:
        time.sleep(0.1)


def write_trace(path: Path, meta: dict, tracers, events: EventLog, results) -> None:
    """Spans of every traced workload, the parsed event log and the results."""
    path.parent.mkdir(parents=True, exist_ok=True)
    doc = {"meta": meta, "spans": [s for t in tracers for s in t.spans],
           "events": events.to_json(), "results": results}
    path.write_text(json.dumps(doc, default=str))

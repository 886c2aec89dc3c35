"""Shared benchmark plumbing: Spark lifecycle, provenance, memory sampling,
spans, the Spark UI REST reader and the result line.

Nothing here starts a thread or process at import time.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import platform
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager

PACKAGE = "kafka_connect_streams_spark"


def now_ms() -> float:
    return time.time() * 1000.0


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Spark lifecycle
# ---------------------------------------------------------------------------


def start_spark(repo_root: str, work: str):
    """``get_spark()`` with only ``SPARK_GRAFT_CPUS`` chosen; every file
    Spark, the JVM and Python workers write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file either: HotSpot writes it to /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    from kafka_connect_streams_spark.engine import get_spark
    return get_spark("perfbench")


def jvm_process(spark):
    """The ``subprocess.Popen`` of the JVM behind this session."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit: the JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = jvm_process(spark)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# provenance
# ---------------------------------------------------------------------------


def source_digest(repo_root: str) -> str:
    """sha256 over the package's Python sources: names the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, PACKAGE)
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, repo_root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(repo_root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo_root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(repo_root: str, workload: str, seed: int, seconds: float,
               trace: bool, sf: float | None) -> dict:
    import pyspark
    return {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "cpus": cpus(), "sf": sf,
            "git_sha": git_sha(repo_root),
            "source_sha256": source_digest(repo_root),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "machine": platform.machine()}


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """Peak of (driver RSS + JVM RSS), sampled from /proc every 50 ms."""

    def __init__(self):
        self.pids = [os.getpid()]
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def add_pid(self, pid: int) -> None:
        self.pids = self.pids + [pid]

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans ``{id, parent, group, name, layer, start_ms,
    end_ms}``; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start_ms: float, end_ms: float,
            parent: int | None = None, group: str | None = None,
            sid: int | None = None) -> int:
        """Record a finished span (under a ``reserve``d id if given)."""
        if not self.enabled:
            return 0
        with self._lock:
            sid = sid or next(self._ids)
            self.spans.append({"id": sid, "parent": parent, "group": group,
                               "name": name, "layer": layer,
                               "start_ms": start_ms, "end_ms": end_ms})
        return sid

    def reserve(self) -> int:
        """An id for a span whose children are recorded before it ends."""
        if not self.enabled:
            return 0
        with self._lock:
            return next(self._ids)

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None,
             group: str | None = None):
        sid = self.reserve()
        start = now_ms()
        try:
            yield sid
        finally:
            self.add(name, layer, start, now_ms(), parent, group, sid)

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each layer's self time: span duration minus the part of it
        that child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"]:
                kids.setdefault(s["parent"], []).append(
                    (s["start_ms"], s["end_ms"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start_ms"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end_ms"])
                if b > a:
                    covered += b - a
                    cur_end = b
            own = max(0.0, s["end_ms"] - s["start_ms"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark UI REST (job, stage and task metrics)
# ---------------------------------------------------------------------------


def _ui_get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def settle_jobs(spark, groups: set[str], timeout_s: float = 30.0) -> list:
    """The UI's jobs of ``groups`` once none is still running (the UI is
    fed asynchronously by the listener bus)."""
    deadline = time.time() + timeout_s
    while True:
        jobs = [j for j in _ui_get(spark, "/jobs")
                if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs) \
                or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def stage_metrics(spark, groups: set[str]) -> dict[str, float]:
    """Job, stage and task totals for the jobs of ``groups``."""
    jobs = settle_jobs(spark, groups)
    ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in _ui_get(spark, "/stages")
              if s["stageId"] in ids and s["status"] != "SKIPPED"]
    out = {
        "jobs": float(len(jobs)),
        "input_records": float(sum(s["inputRecords"] for s in stages)),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"]
                                         for s in stages)),
        "spill_bytes": float(sum(s["memoryBytesSpilled"]
                                 + s["diskBytesSpilled"] for s in stages)),
        "failed_tasks": float(sum(s["numFailedTasks"] for s in stages)),
        "task_skew": 0.0,
    }
    if stages:
        slow = max(stages, key=lambda s: s["executorRunTime"])
        q = _ui_get(spark, f"/stages/{slow['stageId']}/{slow['attemptId']}"
                           "/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        out["task_skew"] = top / med if med else float(top > 0)
    return out


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}})

"""Measurement plumbing of the benchmark: spans, peak RSS, the Spark event
log, and the streaming checkpoint. Everything here observes the engine
from outside; nothing patches it."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100); 0.0 for no values."""
    return float(np.percentile(values, q)) if len(values) else 0.0


# ------------------------------------------------------------------ spans --


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent and a
    group id shared by the spans of one key or one batch. A span opened
    on a thread with no open span (a foreachBatch callback) parents to
    the tracer's current root span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: int | None = None

    @contextmanager
    def span(self, name: str, group: str | None = None, root: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "group": group, "parent": parent,
                               "start": time.time(), "end": None})
        stack.append(sid)
        if root:
            self.root = sid
        try:
            yield self.spans[sid]
        finally:
            stack.pop()
            if root:
                self.root = parent
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write spans with their self time: duration minus the part of
        the interval that child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            end = s["end"] or s["start"]
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"] or c["start"], end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out.append({**s, "end": end, "dur_s": end - s["start"],
                        "self_s": end - s["start"] - covered})
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f)


# ------------------------------------------------------------------- RSS --


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    """Pid of the driver JVM that PySpark launched for this session."""
    return spark.sparkContext._gateway.proc.pid


class PeakRss:
    """Context manager sampling the RSS of ``pids`` every 20 ms while it
    is open; ``peak_mb`` is the largest summed sample."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            if self._stop.wait(0.02):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------- Spark event log --


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (stopped) application in ``log_dir``, each with its
    submit time (epoch ms), properties and the stage/task totals of the
    stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) +
                   [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)])
    for path in files:
        with open(path) as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"], "submit_ms": e["Submission Time"],
                        "props": e.get("Properties", {}), "stages": 0, "tasks": 0,
                        "executor_run_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif '"Event":"SparkListenerStageCompleted"' in line:
                    sid = json.loads(line)["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]]["stages"] += 1
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    job = jobs.get(stage_job.get(e["Stage ID"], -1))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["executor_run_ms"] += m["Executor Run Time"]
                    job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return sorted(jobs.values(), key=lambda j: j["id"])


JOB_FIELDS = ("stages", "tasks", "executor_run_ms", "shuffle_write_bytes", "spill_bytes")


def job_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"jobs": float(len(jobs))}
    for k in JOB_FIELDS:
        out[k] = float(sum(j[k] for j in jobs))
    return out


def jobs_in(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted inside any of ``spans`` (execution is sequential,
    so a job belongs to the span whose interval contains it)."""
    iv = [(s["start"] * 1000.0, s["end"] * 1000.0) for s in spans]
    return [j for j in jobs if any(lo <= j["submit_ms"] <= hi for lo, hi in iv)]


# --------------------------------------------------- streaming checkpoint --


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file -> micro-batch that consumed it, from the file source's
    metadata log ``sources/0/<batch>`` (compacted into ``<batch>.compact``
    every 10 batches, so both forms are read)."""
    out: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch -> commit time (mtime of ``commits/<batch>``)."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime
            for n in os.listdir(d) if n.isdigit()}


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """Input file -> commit time of the batch that consumed it (committed
    files only)."""
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}

"""Tracing for the benchmark: span recorder, Spark counter harvest and
process-tree memory sampling.

Spans are recorded only around calls the benchmark makes into the
engine; nothing inside the engine is instrumented. Each span records its
name, start, end, parent and the id of the operation it belongs to, and
stays in memory until the run ends. While a span is open, Spark jobs
submitted from the benchmark's thread carry the span id as their job
description, so the counters the Spark UI REST API reports per job and
stage can be attributed to spans after the run.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float                        # epoch seconds
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)  # recorded at the boundary

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for the thread that created it, and the
    one switch for tracing: while ``on`` is false (untraced rounds) it
    records nothing and leaves job descriptions alone, so they pay no
    cost; calls from other threads (a streaming callback reaching a
    wrapped function) are never recorded."""

    def __init__(self, sc=None, on: bool = False):
        self.sc = sc
        self.on = on
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._thread = threading.get_ident()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.on or threading.get_ident() != self._thread:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent else 0
        s = Span(next(self._ids), name, op, parent.sid if parent else None, time.time())
        prev_desc = self.sc.getLocalProperty("spark.job.description") if self.sc else None
        if self.sc:
            self.sc.setJobDescription(f"{DESC_PREFIX}{s.sid}")
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc:
                self.sc.setJobDescription(prev_desc)
            self.spans.append(s)

    def record(self, name: str, op: int, start: float, end: float,
               parent: Span | None = None) -> Span | None:
        """Add a span timed elsewhere (e.g. on a streaming thread)."""
        if not self.on:
            return None
        s = Span(next(self._ids), name, op, parent.sid if parent else None, start, end)
        self.spans.append(s)
        return s

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": self.self_time(s),
                    "counts": s.counts,
                }) + "\n")


# ------------------------------------------------------ Spark counters

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "spill_bytes": "diskBytesSpilled",
}


def epoch(ts: str) -> float:
    """Spark REST / progress timestamp (UTC) → epoch seconds."""
    return (dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=dt.timezone.utc).timestamp())


@dataclass
class JobCounters:
    desc: str | None
    submitted: float
    stages: int = 0
    totals: dict[str, float] = field(default_factory=dict)


def _rest(sc, path: str):
    """GET ``/api/v1/applications/<app>/<path>`` from the local Spark UI
    (loopback only)."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def cached_bytes(sc) -> int:
    """Bytes currently held by cached (persisted) data, memory plus disk."""
    return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in _rest(sc, "storage/rdd"))


def harvest_jobs(sc) -> list[JobCounters]:
    """Every job the application ran, with its stages' counters summed."""
    stages: dict[int, dict] = {}
    for st in _rest(sc, "stages"):
        prev = stages.get(st["stageId"])
        if st.get("status") == "SKIPPED":
            continue
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stages[st["stageId"]] = st
    out, seen = [], set()
    for j in _rest(sc, "jobs"):
        jc = JobCounters(j.get("description"), epoch(j["submissionTime"]))
        jc.totals = {k: 0.0 for k in STAGE_FIELDS}
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            jc.stages += 1
            for k, f in STAGE_FIELDS.items():
                jc.totals[k] += st.get(f, 0) or 0
        out.append(jc)
    return out


def attribute_jobs(tracer: Tracer, jobs: list[JobCounters]) -> None:
    """Add each job's counters to the span it ran under: by job
    description when the benchmark thread submitted it, otherwise (e.g.
    streaming threads) to the innermost span whose interval holds the
    submission time. Adds ``jobs``, ``stages`` and the stage totals to
    ``span.counts``."""
    by_id = {s.sid: s for s in tracer.spans}
    for j in jobs:
        target = None
        if j.desc and j.desc.startswith(DESC_PREFIX):
            target = by_id.get(int(j.desc[len(DESC_PREFIX):]))
        if target is None:
            holding = [s for s in tracer.spans if s.start <= j.submitted <= s.end]
            target = min(holding, key=lambda s: s.duration, default=None)
        if target is None:
            continue
        c = target.counts
        c["jobs"] = c.get("jobs", 0) + 1
        c["stages"] = c.get("stages", 0) + j.stages
        for k, v in j.totals.items():
            c[k] = c.get(k, 0) + v


def jobs_between(jobs: list[JobCounters], t0: float, t1: float) -> dict[str, float]:
    """Summed counters of the jobs submitted in [t0, t1]."""
    tot = {k: 0.0 for k in STAGE_FIELDS}
    tot["jobs"] = 0
    for j in jobs:
        if t0 <= j.submitted <= t1:
            tot["jobs"] += 1
            for k, v in j.totals.items():
                tot[k] += v
    return tot


# ------------------------------------------------------- memory sampler

def children_map() -> dict[int, list[int]]:
    """parent pid -> child pids, for every process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root: int, settled: set[int]) -> tuple[float, set[int]]:
    """Summed resident memory, in MB, of the descendants of ``root`` —
    the Spark JVM and the Python workers — that are also in
    ``settled``; returns it with the set of descendants seen now.

    Only processes already present one sample earlier count: a child the
    JVM spawns (it runs ``chmod`` and friends for the local file system)
    shares the JVM's memory until it execs and would count it twice."""
    kids = children_map()
    total, seen, todo = 0, set(), list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        seen.add(pid)
        if pid in settled:
            total += _rss_kb(pid)
        todo += kids.get(pid, [])
    return total / 1024.0, seen


class RssSampler:
    """Background thread sampling ``descendants_rss_mb`` every
    ``interval`` seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me, settled = os.getpid(), set()
        while not self._stop.is_set():
            mb, settled = descendants_rss_mb(me, settled)
            self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

"""Tracing for the benchmark's traced run, recorded from outside the
program: spans around the calls into each layer, a py4j command
counter, Spark's monitoring REST API for per-job-group job and stage
metrics, and a StreamingQueryListener for micro-batch progress.

Nothing here runs in an untraced run: there the benchmark never
imports this module's hooks and the Spark UI stays off.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans and counters; written out once at the end."""

    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int):
        s = Span(name, op, time.perf_counter(), parent=self._stack[-1] if self._stack else None, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count_py4j(self, spark) -> None:
        """Count every py4j command the Python side sends to the JVM by
        wrapping the gateway client's send method."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        lock = threading.Lock()

        def counting_send(*args, **kwargs):
            with lock:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    def self_times(self) -> list[dict]:
        """Each span with its duration and self time: the duration
        minus the part of its interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children.get(s.sid, [])], s.start, s.end)
            out.append(
                {
                    "sid": s.sid,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start_s": s.start,
                    "end_s": s.end,
                    "dur_s": s.end - s.start,
                    "self_s": s.end - s.start - covered,
                }
            )
        return out


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- REST metrics


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=_dt.timezone.utc).timestamp()


class Rest:
    """Spark's monitoring REST API on the driver's own UI (localhost)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout: float = 20.0) -> list[dict]:
        """All jobs, once the status store shows none still running
        (the listener bus that feeds it is asynchronous)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def stages(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for s in self._get("/stages"):
            # keep the latest attempt of each stage
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out


def job_metrics(jobs: list[dict], stages: dict[int, dict], cores: int) -> dict[str, float]:
    """exec.* layer metrics over one set of jobs."""
    spans = [(_epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))) for j in jobs]
    spans = [(s, e) for s, e in spans if s is not None and e is not None]
    wall = _union_length(spans, float("-inf"), float("inf")) if spans else 0.0
    st = [stages[i] for j in jobs for i in j.get("stageIds", []) if i in stages and stages[i].get("status") != "SKIPPED"]
    mb = 1024.0 * 1024.0
    run_s = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
    return {
        "exec.s": wall,
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(st)),
        "exec.tasks": float(sum(s.get("numCompleteTasks", 0) for s in st)),
        "exec.cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "exec.run_s": run_s,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1000.0,
        "exec.core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / mb,
        "exec.spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st) / mb,
        "exec.input_mb": sum(s.get("inputBytes", 0) for s in st) / mb,
        "exec.output_mb": sum(s.get("outputBytes", 0) for s in st) / mb,
    }


_BATCH_RE = re.compile(r"batch = (\d+)")


def stream_batch_of(job: dict) -> int | None:
    """Micro-batch number of a streaming job: the engine labels every
    job of a micro-batch with the query's run id as job group and
    'batch = N' in the job description."""
    m = _BATCH_RE.search(job.get("description") or "")
    return int(m.group(1)) if m else None


def progress_listener(spark, sink: list):
    """Register a StreamingQueryListener that appends each progress
    record (as a dict) to ``sink``; returns it for removal."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener

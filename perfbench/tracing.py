"""Spans, streaming-progress capture and the Spark event-log fold.

Everything here observes the engine from outside: spans are opened by
the benchmark around its calls into the engine's public functions,
micro-batch numbers come from a ``StreamingQueryListener`` registered
on the session, and per-stage executor numbers come from Spark's own
event log, read after the session stops.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import re
import threading
import time
from dataclasses import asdict, dataclass, field

# Micro-batch phases in the order a trigger runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder; ``span()`` nests by call stack."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id, attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return [
            s.duration - covered(children.get(s.id, []), s.start, s.end)
            for s in self.spans
        ]

    def dump(self) -> list[dict]:
        return [
            {**asdict(s), "self": round(st, 6)}
            for s, st in zip(self.spans, self.self_times())
        ]


@contextlib.contextmanager
def wrapped_load_table(tracer: Tracer, seen: set[str]):
    """Time every call into ``tables.load_table`` as a span and record
    which tables were read. Rebinds the name in every engine module
    that imported it, and restores them on exit."""
    import sys

    from big_data_exercise_spark import tables

    original = tables.load_table

    def load_table(spark, sf_dir, name):
        seen.add(name)
        with tracer.span("load_table", table=name):
            return original(spark, sf_dir, name)

    patched = [
        m for n, m in list(sys.modules.items())
        if n.startswith("big_data_exercise_spark") and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original


# ------------------------------------------------------ streaming progress
def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def data_batches(progress: list[dict]) -> list[dict]:
    """Progress reports of micro-batches that carried input rows."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def make_stream_capture():
    """A ``StreamingQueryListener`` that keeps every progress report.

    Built by a factory so that importing this module does not import
    pyspark (the helper tests run without a session)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCapture(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Condition()
            self.started: dict[str, dict] = {}
            self.terminated: dict[str, float] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = {
                    "id": str(event.id),
                    "name": event.name,
                    "start": _epoch(event.timestamp),
                }

        def onQueryProgress(self, event):
            with self.lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated[str(event.runId)] = time.time()
                self.lock.notify_all()

        def wait_all_terminated(self, timeout: float = 30.0) -> bool:
            """Block until every started query's termination arrived, so
            its last progress report has been delivered."""
            deadline = time.monotonic() + timeout
            with self.lock:
                while set(self.started) - set(self.terminated):
                    left = deadline - time.monotonic()
                    if left <= 0:
                        return False
                    self.lock.wait(left)
            return True

        def take(self) -> tuple[dict, dict, list[dict]]:
            """Return and clear everything captured so far."""
            with self.lock:
                out = (self.started, self.terminated, self.progress)
                self.started, self.terminated, self.progress = {}, {}, []
            return out

    return StreamCapture()


def add_stream_spans(tracer: Tracer, started: dict, terminated: dict,
                     progress: list[dict], parent: int | None) -> None:
    """stream query → micro-batch → phase spans from listener reports.

    The listener gives each phase's duration but not its start, so the
    phases are laid end to end in trigger order from the batch start."""
    by_run: dict[str, list[dict]] = {}
    for p in progress:
        by_run.setdefault(p["runId"], []).append(p)
    for run_id, info in started.items():
        reports = by_run.get(run_id, [])
        end = terminated.get(run_id) or max(
            (_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
             for p in reports), default=info["start"])
        qid = tracer.add("stream_query", info["start"], end, parent, query=info["name"], run=run_id)
        for p in reports:
            t0 = _epoch(p["timestamp"])
            dur = p["durationMs"]
            bid = tracer.add("micro_batch", t0, t0 + dur.get("triggerExecution", 0) / 1e3, qid,
                             batch=p["batchId"], rows=p.get("numInputRows", 0))
            t = t0
            for phase in PHASES:
                if phase in dur:
                    tracer.add(phase, t, t + dur[phase] / 1e3, bid)
                    t += dur[phase] / 1e3


# ---------------------------------------------------------- event-log fold
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    # Rows, not bytes: bytesRead under-counts local parquet scans (7 KB
    # for a 600k-row, 10 MB table).
    "internal.metrics.input.recordsRead": "input_rows",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    # SQL metrics of the Python evaluation nodes (Arrow UDFs, grouped maps)
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "arrow_bytes",
    "data returned from Python workers": "arrow_bytes",
}
JOB_TAG = re.compile(r"^perfbench (\S+) (\S+)$")


def job_tag(pass_label: str, query: str) -> str:
    return f"perfbench {pass_label} {query}"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``,
    whether Spark wrote one plain file or a rolling-log directory."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not paths:
        paths = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_event_log(events: list[dict]) -> tuple[dict, dict]:
    """Jobs (submit/end ms, description, tag) and completed stages
    (name, tasks, owning job, summed executor metrics)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            m = JOB_TAG.match(desc)
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"], "end": e["Submission Time"],
                "desc": desc, "tag": (m.group(1), m.group(2)) if m else None,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = {
                "stage": info["Stage ID"], "name": info["Stage Name"],
                "tasks": info["Number of Tasks"], "job": stage_job.get(info["Stage ID"]),
                **{k: 0.0 for k in set(STAGE_METRICS.values())},
            }
            for acc in info.get("Accumulables", []):
                key = STAGE_METRICS.get(acc.get("Name"))
                if key is not None:
                    st[key] += float(acc.get("Value") or 0)
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = st
    return jobs, stages


def attribute_stages(jobs: dict, stages: dict, query_spans: list[Span]) -> dict[int, list[dict]]:
    """Group completed stages by the query span that ran them.

    A job tagged by the benchmark maps to the span with that pass label
    and query name; an untagged job (e.g. a micro-batch, which the
    streaming engine describes itself) maps to the query span its
    submission time falls in: queries run one at a time."""
    by_tag = {(s.attrs.get("pass"), s.attrs.get("query")): s for s in query_spans}
    out: dict[int, list[dict]] = {}
    for st in stages.values():
        job = jobs.get(st["job"])
        if job is None:
            continue
        span = by_tag.get(job["tag"]) if job["tag"] else None
        if span is None:
            t = job["submit"] / 1e3
            span = next((s for s in query_spans if s.start <= t <= s.end), None)
        if span is not None:
            out.setdefault(span.id, []).append(st)
    return out


def job_intervals(jobs: dict) -> list[tuple[float, float]]:
    return [(j["submit"] / 1e3, j["end"] / 1e3) for j in jobs.values()]

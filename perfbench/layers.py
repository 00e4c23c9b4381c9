"""Per-layer metrics of a traced run, folded from spans, the event log
and the streaming listener's progress reports."""

from __future__ import annotations

from stats import median
from tracing import Tracer, attribute_stages, covered, job_intervals

# Pass label prefix of the traced session's timed passes.
TIMED_PASS_PREFIX = "t"
MB = 1e6


def per_layer(tracer: Tracer, jobs: dict, stages: dict, n_passes: int,
              batches: list[dict]) -> tuple[dict, dict]:
    """Per-pass layer numbers over the traced run's ``n_passes`` timed
    passes, and each query's top-3 stages by executor run time."""
    n = max(1, n_passes)
    spans = tracer.spans
    queries = [s for s in spans if s.name == "query"]
    timed = {s.id for s in queries if str(s.attrs.get("pass", "")).startswith(TIMED_PASS_PREFIX)}
    parent_query = {s.id: s.parent for s in spans if s.name in ("build", "materialise")}
    builds = [s for s in spans if s.name == "build" and parent_query[s.id] in timed]
    mats = [s for s in spans if s.name == "materialise" and parent_query[s.id] in timed]
    intervals = job_intervals(jobs)

    by_query = attribute_stages(jobs, stages, queries)
    timed_stages = [st for qid, sts in by_query.items() if qid in timed for st in sts]

    def stage_sum(key: str) -> float:
        return sum(st[key] for st in timed_stages) / n

    metrics = {
        "registry.build_s": (sum(s.duration for s in builds) / n, "s"),
        "registry.build_outside_jobs_s": (
            sum(s.duration - covered(intervals, s.start, s.end) for s in builds) / n, "s"),
        "registry.materialize_s": (sum(s.duration for s in mats) / n, "s"),
        "tables.input_rows": (stage_sum("input_rows"), "count"),
        "operators.tasks": (stage_sum("tasks"), "count"),
        "operators.stages": (len(timed_stages) / n, "count"),
        "operators.exec_cpu_s": (stage_sum("cpu_ns") / 1e9, "s"),
        "operators.gc_s": (stage_sum("gc_ms") / 1e3, "s"),
        "operators.shuffle_write_mb": (stage_sum("shuffle_write_bytes") / MB, "MB"),
        "operators.shuffle_read_mb": (stage_sum("shuffle_read_bytes") / MB, "MB"),
        "operators.spill_mb": (stage_sum("spill_bytes") / MB, "MB"),
        "udf.python_s": (stage_sum("python_ms") / 1e3, "s"),
        "udf.arrow_mb": (stage_sum("arrow_bytes") / MB, "MB"),
    }
    metrics.update(streaming_metrics(tracer, builds, batches, n))

    top = {}
    for q in queries:
        sts = sorted(by_query.get(q.id, []), key=lambda st: -st["run_ms"])[:3]
        top[f"{q.attrs['pass']} {q.attrs['query']}"] = [
            {"stage": st["stage"], "name": st["name"], "tasks": st["tasks"],
             "run_ms": st["run_ms"]} for st in sts]
    return metrics, top


def _phase_p50(batches: list[dict], phase: str) -> float:
    return median(b["durationMs"].get(phase, 0) for b in batches)


def streaming_metrics(tracer: Tracer, builds, batches: list[dict], n: int) -> dict:
    """Micro-batch phase medians and state-store numbers; zero when the
    workload runs no stream (or, for state, no stateful stream)."""
    # State numbers over the batches of stateful queries only.
    state_ops = [b["stateOperators"] for b in batches if b.get("stateOperators")]
    trigger_s = sum(b["durationMs"].get("triggerExecution", 0) for b in batches) / 1e3
    rows = sum(b.get("numInputRows", 0) for b in batches)
    # Time inside a stream query's build that no micro-batch covers:
    # query start, source and sink set-up, stop, result collection.
    children: dict[int, list] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)
    start_stop = 0.0
    for b in builds:
        streams = [c for c in children.get(b.id, []) if c.name == "stream_query"]
        if streams:
            mb = [m for q in streams for m in children.get(q.id, []) if m.name == "micro_batch"]
            start_stop += b.duration - covered([(m.start, m.end) for m in mb], b.start, b.end)
    return {
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.add_batch_ms_p50": (_phase_p50(batches, "addBatch"), "ms"),
        "streaming.query_planning_ms_p50": (_phase_p50(batches, "queryPlanning"), "ms"),
        "streaming.wal_commit_ms_p50": (_phase_p50(batches, "walCommit"), "ms"),
        "streaming.commit_offsets_ms_p50": (_phase_p50(batches, "commitOffsets"), "ms"),
        "streaming.latest_offset_ms_p50": (_phase_p50(batches, "latestOffset"), "ms"),
        "streaming.get_batch_ms_p50": (_phase_p50(batches, "getBatch"), "ms"),
        "streaming.state_commit_ms_p50": (
            median(sum(op.get("commitTimeMs", 0) for op in ops) for ops in state_ops), "ms"),
        "streaming.state_rows": (
            median(sum(op.get("numRowsTotal", 0) for op in ops) for ops in state_ops), "count"),
        "streaming.state_mem_mb": (
            median(sum(op.get("memoryUsedBytes", 0) for op in ops) for ops in state_ops) / MB,
            "MB"),
        "streaming.rows_per_s": (rows / trigger_s if trigger_s else 0.0, "1/s"),
        "streaming.start_stop_s": (start_stop / n, "s"),
    }

"""Event-log fold and listener capture against a real local session on
tiny generated data."""

import os
import tempfile

import pytest

import datagen
import tracing


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A 2-core session logging events, over sf0.001 tables and a 2-file
    streaming feed."""
    base = tmp_path_factory.mktemp("perfbench")
    data, log_dir = str(base / "data"), str(base / "eventlog")
    os.makedirs(log_dir)
    datagen.generate(data, 0.001)
    saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_GRAFT_STREAM_FEED_FILES")}
    os.environ["TMPDIR"] = tempfile.tempdir = str(base)
    os.environ["SPARK_GRAFT_STREAM_FEED_FILES"] = "2"
    from big_data_exercise_spark.session import get_spark

    spark = get_spark("perfbench-tests", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false", "spark.ui.showConsoleProgress": "false"})
    capture = tracing.make_stream_capture()
    spark.streams.addListener(capture)
    yield spark, data, log_dir, capture
    spark.streams.removeListener(capture)
    spark.stop()
    tempfile.tempdir = None
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def test_listener_captures_every_feed_file_as_a_batch(traced):
    from big_data_exercise_spark.plans.registry import all_queries

    spark, data, _, capture = traced
    rows = all_queries()["stream_tumbling_counts"].build(spark, data).count()
    assert rows > 0
    assert capture.wait_all_terminated(timeout=60)
    started, terminated, progress = capture.take()
    assert len(started) == 1 and set(started) == set(terminated)
    batches = tracing.data_batches(progress)
    assert len(batches) == 2
    assert sum(b["numInputRows"] for b in batches) == 1000
    for b in batches:
        assert b["durationMs"]["triggerExecution"] > 0
        assert {"addBatch", "queryPlanning", "walCommit"} <= set(b["durationMs"])
        assert b["stateOperators"], "tumbling counts keep window state"
    tr = tracing.Tracer("t")
    tracing.add_stream_spans(tr, started, terminated, progress, None)
    names = [s.name for s in tr.spans]
    assert names.count("stream_query") == 1
    assert names.count("micro_batch") == len(progress)
    assert "addBatch" in names


def test_event_log_fold_attributes_tagged_stages(traced):
    from big_data_exercise_spark.plans.registry import all_queries

    spark, data, log_dir, _ = traced
    tr = tracing.Tracer("t")
    with tr.span("query", query="pricing_summary", **{"pass": "t0"}):
        spark.sparkContext.setJobDescription(tracing.job_tag("t0", "pricing_summary"))
        all_queries()["pricing_summary"].build(spark, data).write.format("noop").mode(
            "overwrite").save()
        spark.sparkContext.setJobDescription(None)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = tracing.fold_event_log(tracing.read_event_log(log_dir))
    tagged = [j for j in jobs.values() if j["tag"] == ("t0", "pricing_summary")]
    assert tagged and all(j["end"] >= j["submit"] for j in tagged)
    by_query = tracing.attribute_stages(jobs, stages, [s for s in tr.spans if s.name == "query"])
    mine = by_query[0]
    assert sum(st["tasks"] for st in mine) >= 1
    assert sum(st["run_ms"] for st in mine) > 0
    assert sum(st["input_rows"] for st in mine) == 6000  # every lineitem row

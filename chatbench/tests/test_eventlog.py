"""The event-log and listener parsers, on a log a real session writes
during the test: job groups label main-thread jobs, and jobs a streaming
foreachBatch starts are attributed to the span around them by time."""

from __future__ import annotations

import json
import os
import threading

import pytest

from chatbench import eventlog, harness
from chatbench.trace import Tracer, stream_listener


@pytest.fixture(scope="module")
def traced_session(bench_work):
    """Runs a few labelled jobs and a two-batch stream, stops the session,
    and returns (jobs, spans, listener progress)."""
    from pyspark.sql import functions as F

    work = os.path.join(bench_work, "eventlog_session")
    event_dir = os.path.join(work, "eventlog")
    harness.configure_env(work, event_dir)
    spark = harness.start_session()
    try:
        tr = Tracer(spark)
        listener = stream_listener(spark)
        tr.force("layer.a", spark.range(1000).select((F.col("id") * 2).alias("x")))
        with tr.span("layer.b"):
            spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().collect()
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        done = threading.Event()

        def handle(batch_df, batch_id):
            batch_df.groupBy("value").count().collect()  # runs on the stream thread
            done.set()

        query = (spark.readStream.text(landing).writeStream.foreachBatch(handle)
                 .option("checkpointLocation", os.path.join(work, "ckpt")).start())
        try:
            for b in range(2):
                done.clear()
                with tr.span("batch"):
                    with open(os.path.join(landing, f"f{b}.txt"), "w") as f:
                        f.write("a\nb\na\n")
                    assert done.wait(timeout=120)
            listener.wait_for(str(query.id), 2)
        finally:
            query.stop()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()  # outside every span
    finally:
        harness.stop_session(spark)
    jobs = eventlog.read_jobs(eventlog.find_log(event_dir))
    return jobs, tr.spans, listener.progress


def test_log_is_plain_json_lines(traced_session, bench_work):
    jobs, _, _ = traced_session
    assert jobs and all(j.end_ms is not None and j.end_ms >= j.submit_ms for j in jobs)
    assert sum(j.tasks for j in jobs) >= len(jobs)


def test_job_groups_label_main_thread_jobs(traced_session):
    jobs, spans, _ = traced_session
    by = eventlog.attribute(jobs, spans)
    assert len(by["layer.a"]) >= 1
    assert by["layer.b"] and any(j.exchanges >= 1 for j in by["layer.b"])
    assert sum(j.shuffle_write_bytes for j in by["layer.b"]) > 0


def test_foreach_batch_jobs_are_attributed_by_time_window(traced_session):
    jobs, spans, _ = traced_session
    stream_jobs = [j for j in jobs if j.query_id]
    assert stream_jobs, "foreachBatch jobs carry the streaming query id"
    assert all(not (j.group or "").startswith(eventlog.GROUP_PREFIX) for j in stream_jobs)
    by = eventlog.attribute(jobs, spans)
    assert {j.job_id for j in by["batch"]} >= {
        j.job_id for j in stream_jobs
        if any(a <= j.submit_ms <= b for name, a, b in spans if name == "batch")}
    assert len(by["batch"]) >= 2
    attributed = {j.job_id for js in by.values() for j in js}
    assert jobs[-1].job_id not in attributed  # the job outside every span


def test_listener_progress_parses(traced_session):
    _, _, progress = traced_session
    batches = eventlog.parse_progress(progress)
    assert [b["batch_id"] for b in batches] == [0, 1]
    assert all(b["rows"] == 3 and "addBatch" in b["durations"] for b in batches)


def test_covered_ms_merges_overlaps():
    jobs = [eventlog.Job(0, 0.0, 10.0), eventlog.Job(1, 5.0, 20.0), eventlog.Job(2, 30.0, 40.0)]
    assert eventlog.covered_ms(jobs, 0.0, 100.0) == 30.0
    assert eventlog.covered_ms(jobs, 8.0, 35.0) == 17.0


def test_parse_progress_skips_idle_triggers():
    idle = json.dumps({"batchId": 3, "numInputRows": 0, "durationMs": {}})
    busy = json.dumps({"batchId": 4, "numInputRows": 5, "id": "q",
                       "durationMs": {"addBatch": 12}})
    assert eventlog.parse_progress([idle, busy]) == [
        {"batch_id": 4, "rows": 5, "query_id": "q", "durations": {"addBatch": 12}}]

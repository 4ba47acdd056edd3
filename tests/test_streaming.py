"""Structured Streaming tests: the file-source incremental pipeline
(marker-orchestration replacement) actually runs under
Trigger.AvailableNow, and the windowed agg matches its batch twin."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.jobs import (
    EVENTS_SCHEMA,
    run_available_now_to_parquet,
    run_dedup_available_now,
    run_dedup_to_parquet,
    stream_events_from_files,
    tumbling_counts_stream,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_available_now_removes_its_temp_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """The redelivered source copies and the drain's checkpoint are
    removed once the rows are in the memory sink, which still serves
    them afterwards."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    read_table(spark, sf_dir, "events")  # sets the conf the raw read needs
    out = run_dedup_available_now(spark, os.path.join(sf_dir, "events.parquet"))
    assert os.listdir(tmp_path) == []
    assert out.count() > 0


def test_available_now_drains_and_stops(spark, sf_dir, tmpdir):
    src = os.path.join(tmpdir, "src")
    dst = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    events = read_table(spark, sf_dir, "events")
    events.write.parquet(src)

    run_available_now_to_parquet(spark, src, dst, ckpt)
    out = spark.read.parquet(dst)
    # append mode + watermark: only windows older than max(ts) − 2h are
    # finalized and emitted
    batch = tumbling_counts_stream(events)  # same expression, batch run
    batch_windows = {
        r["window_start"]
        for r in batch.select("window_start").distinct().collect()
    }
    out_windows = {r["window_start"] for r in out.select("window_start").distinct().collect()}
    assert out_windows  # something was finalized
    assert out_windows <= batch_windows
    # emitted windows carry identical aggregates to the batch run
    joined = out.alias("s").join(
        batch.alias("b"),
        ["window_start", "event_type"],
        "inner",
    )
    mismatches = joined.filter(
        (F.col("s.n_events") != F.col("b.n_events"))
        | (F.col("s.sum_value") != F.col("b.sum_value"))
    ).count()
    assert mismatches == 0
    assert joined.count() == out.count()


def test_incremental_second_batch(spark, sf_dir, tmpdir):
    """Second availableNow run picks up only newly landed files —
    the marker-file orchestration contract, engine-managed."""
    src = os.path.join(tmpdir, "src")
    dst = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    events = read_table(spark, sf_dir, "events").cache()
    first_half = events.filter(F.col("event_id") % 2 == 0)
    second_half = events.filter(F.col("event_id") % 2 == 1)

    first_half.write.parquet(src)
    run_available_now_to_parquet(spark, src, dst, ckpt)
    n1 = spark.read.parquet(dst).count()

    # land more files into the same source dir; rerun with same checkpoint
    second_half.write.mode("append").parquet(src)
    run_available_now_to_parquet(spark, src, dst, ckpt)
    n2 = spark.read.parquet(dst).count()
    assert n2 >= n1  # new finalized windows appended, nothing reprocessed twice

    stream = stream_events_from_files(spark, src)
    assert stream.isStreaming


def test_streaming_dedup_drops_redelivered_events(spark, sf_dir, tmpdir):
    """At-least-once redelivery: the same events file lands twice (plus
    a half-overlap); the deduped sink must contain each event_id once."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.jobs import (
        run_dedup_to_parquet,
    )

    src = os.path.join(tmpdir, "src")
    dst = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    events = read_table(spark, sf_dir, "events").limit(2000).cache()
    n_unique = events.select("event_id").distinct().count()

    events.coalesce(1).write.parquet(src)                      # delivery 1
    events.coalesce(1).write.mode("append").parquet(src)       # full redelivery
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)                                             # partial redelivery

    run_dedup_to_parquet(spark, src, dst, ckpt)
    out = spark.read.parquet(dst)
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_static_dim_join(spark, sf_dir, tmpdir):
    """Stream-static enrichment: the events stream joins the customer
    dimension (broadcast per micro-batch) — the streaming form of the
    reference's fact-dim lookups. Aggregated per segment and checked
    against the identical batch plan."""
    src = os.path.join(tmpdir, "src")
    events = read_table(spark, sf_dir, "events")
    events.coalesce(1).write.parquet(src)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, value double"
        ).parquet(src)
        .join(dim, "user_id")  # stream-static join: no state, no watermark
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_static_join_test")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["c_mktsegment"]: r["n"]
        for r in spark.table("stream_static_join_test").collect()
    }
    expected = {
        r["c_mktsegment"]: r["n"]
        for r in events.join(dim, "user_id").groupBy("c_mktsegment")
        .agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmpdir):
    """Two invocations sharing a checkpoint: the second must resume
    from committed offsets and process only files that landed between
    runs — the engine-managed replacement for the reference's marker
    files, with exactly-once instead of hope."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.jobs import (
        run_dedup_to_parquet,
    )

    src = os.path.join(tmpdir, "src")
    dst = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    events = read_table(spark, sf_dir, "events").limit(3000).cache()
    first = events.filter(F.col("event_id") < 1000)
    second = events.filter(
        (F.col("event_id") >= 500) & (F.col("event_id") < 2000)
    )  # overlaps run 1

    first.coalesce(1).write.parquet(src)
    run_dedup_to_parquet(spark, src, dst, ckpt)
    n1 = spark.read.parquet(dst).count()
    assert n1 == first.count()

    second.coalesce(1).write.mode("append").parquet(src)
    run_dedup_to_parquet(spark, src, dst, ckpt)  # same checkpoint
    out = spark.read.parquet(dst)
    union_n = first.unionByName(second).select("event_id").distinct().count()
    assert out.count() == union_n                       # overlap deduped
    assert out.select("event_id").distinct().count() == union_n


def test_dedup_drain_runs_one_batch_and_reports_it(spark, tmpdir):
    """Each drain over one source/sink/checkpoint commits exactly one
    micro-batch (no trailing no-data batch) and returns its progress.

    Without the no-data batch, a drain's late-row threshold is the
    watermark the previous drain ended with (Spark judges late rows by
    the previous batch's watermark), and state expired by that
    watermark is evicted at the end of the drain's own data batch. So:
    - redelivered events are dropped by the dedup state, also in the
      drain that evicts their keys;
    - an event older than the watermark of two drains back is dropped
      as late and counted;
    - a new event between the last two drains' watermarks is appended
      (the threshold lags one drain; a trailing no-data batch would
      have dropped it);
    - a redelivery after its key was evicted is late, so no event is
      ever appended twice."""
    t0 = dt.datetime(2024, 1, 1)

    def events(ids, hours):
        return [
            (i, t0 + dt.timedelta(hours=h), i % 7, "click", float(i), "")
            for i, h in zip(ids, hours)
        ]

    first = events(range(100), [i / 100 for i in range(100)])  # ts in [0 h, 1 h)
    fresh = events(range(100, 150), [5 + i / 50 for i in range(50)])  # [5 h, 6 h)
    drops = [
        first,  # watermark after: 1 h − 2 h = −1 h
        first[:30] + fresh,  # 30 redelivered with the same ts; watermark after: 4 h
        # 150 sits between −1 h and 4 h, 151 is older than −1 h, 5 is redelivered
        events([150, 151], [3.0, -2.0]) + first[5:6] + events([152], [6.5]),
        first[6:7],  # redelivered after its key was evicted
    ]
    src, dst, ckpt = (os.path.join(tmpdir, d) for d in ("src", "out", "ckpt"))
    reports = []
    for n, rows in enumerate(drops, 1):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        reports.append(run_dedup_to_parquet(spark, src, dst, ckpt))
        assert len([f for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()]) == n

    assert [len(r) for r in reports] == [1, 1, 1, 1]
    assert [r[0].numInputRows for r in reports] == [100, 80, 4, 1]
    state = [r[0].stateOperators[0] for r in reports]
    assert [s.numRowsDroppedByWatermark for s in state] == [0, 0, 1, 1]
    assert state[0].numRowsTotal == 100
    assert state[1].numRowsRemoved == 0  # the watermark was still −1 h
    assert state[2].numRowsRemoved == 100  # the first drop's keys, by a later drain
    assert state[2].numRowsTotal == 52
    got = sorted(r["event_id"] for r in spark.read.parquet(dst).collect())
    assert got == list(range(151)) + [152]

"""Stateful streams start on an isolated session sized to the cluster.

A streaming query binds its state partitioning to
``spark.sql.shuffle.partitions`` when its checkpoint is created and
records it in the offset log. Every entry point that starts a stateful
query runs it on ``streaming.isolation.stream_session``: a new session
that inherits the caller's runtime SQL conf and sets the partition
count to ``defaultParallelism``. These tests pin that:

- a new checkpoint records ``defaultParallelism``;
- the caller's conf is never touched, not even while a drain runs in
  another thread (a query the caller starts meanwhile binds the
  caller's own partition count);
- a checkpoint created under another count keeps it on resume;
- runtime conf set on the caller reaches the stream.
"""

from __future__ import annotations

import inspect
import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.isolation import (
    stream_session,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.jobs import (
    dedup_events_stream,
    run_available_now_to_parquet,
    run_dedup_available_now,
    run_dedup_to_parquet,
    stream_events_from_files,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.stateful import (
    run_running_totals_available_now,
)

_PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture()
def caller(spark):
    """A caller session whose partition count differs from the
    cluster's default parallelism (odd, so never the old fixed 8)."""
    s = spark.newSession()
    s.conf.set(_PARTS, str(2 * spark.sparkContext.defaultParallelism + 1))
    return s


@pytest.fixture()
def events_src(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    read_table(spark, sf_dir, "events").limit(2000).coalesce(1).write.parquet(src)
    return src


def _offset_confs(ckpt: str) -> list[dict]:
    """The conf each committed batch recorded in the offset log."""
    log = os.path.join(ckpt, "offsets")
    batches = sorted(int(f) for f in os.listdir(log) if f.isdigit())
    confs = []
    for b in batches:
        with open(os.path.join(log, str(b))) as fh:
            lines = fh.read().splitlines()
        confs.append(json.loads(lines[1])["conf"])
    return confs


def _drain_to_parquet(session, src: str, dst: str, ckpt: str) -> None:
    """The dedup stream started directly on ``session``."""
    (
        dedup_events_stream(stream_events_from_files(session, src))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def test_dedup_checkpoint_records_default_parallelism(caller, events_src, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    run_dedup_to_parquet(caller, events_src, str(tmp_path / "out"), ckpt)
    want = str(caller.sparkContext.defaultParallelism)
    confs = _offset_confs(ckpt)
    assert confs and all(c[_PARTS] == want for c in confs)


def _drain_entries() -> list[str]:
    return sorted(
        name
        for name, q in QUERIES.items()
        if "drain_to_memory(" in inspect.getsource(q.spark)
    )


def test_drain_selector_finds_every_memory_sink_entry():
    assert _drain_entries() == [
        "s07_stream_static_join",
        "s09_stream_stream_join",
        "s10_stream_stream_left_join",
        "s11_stream_incremental_dedup",
        "s12_streaming_ohlc",
        "s13_streaming_ohlc_append",
        "s14_update_mode_counts",
        "s15_streaming_session_window",
        "s18_streaming_quality_gate",
        "s19_streaming_corpus_pipeline",
        "s20_streaming_rag_chunking",
        "s21_streaming_hll_registers",
        "s22_streaming_histogram_quantiles",
        "s23_streaming_pii_scrub",
        "s24_streaming_k_anonymity",
        "s25_streaming_negative_sampling",
        "s26_streaming_distinctive_terms",
        "s27_streaming_countmin",
        "s28_streaming_bloom",
    ]


def _events(sf_dir: str) -> str:
    return os.path.join(sf_dir, "events.parquet")


# the streaming/ entry points, called as (caller, sf_dir, src, tmp)
_JOBS = {
    "run_dedup_to_parquet": lambda s, sf, src, tmp: run_dedup_to_parquet(
        s, src, f"{tmp}/out", f"{tmp}/ckpt"
    ),
    "run_available_now_to_parquet": lambda s, sf, src, tmp: run_available_now_to_parquet(
        s, src, f"{tmp}/out", f"{tmp}/ckpt"
    ),
    "run_dedup_available_now": lambda s, sf, src, tmp: run_dedup_available_now(
        s, _events(sf)
    ).collect(),
    "run_running_totals_available_now": lambda s, sf, src, tmp: run_running_totals_available_now(
        s, _events(sf)
    ).collect(),
}


@pytest.mark.parametrize(
    "entry",
    [*_JOBS, "s05_stateful_running_totals", "s06_streaming_dedup", *_drain_entries()],
)
def test_entry_point_leaves_caller_conf_untouched(caller, sf_dir, events_src, tmp_path, entry):
    before = caller.conf.getAll
    if entry in _JOBS:
        _JOBS[entry](caller, sf_dir, events_src, str(tmp_path))
    else:
        QUERIES[entry].spark(caller, sf_dir).collect()
    assert caller.conf.getAll == before


def test_concurrent_caller_query_binds_caller_partitions(
    caller, sf_dir, events_src, tmp_path, monkeypatch
):
    """A drain holds its query open in another thread while the caller
    starts its own stateful query; that query must bind the caller's
    partition count, not the drain's."""
    real_start = DataStreamWriter.start
    started, release = threading.Event(), threading.Event()
    errors: list[BaseException] = []

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        if threading.current_thread() is drain and not started.is_set():
            started.set()
            release.wait(120)
        return q

    def run_drain():
        try:
            run_dedup_available_now(caller, _events(sf_dir))
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)
            started.set()

    monkeypatch.setattr(DataStreamWriter, "start", start)
    drain = threading.Thread(target=run_drain)
    drain.start()
    try:
        assert started.wait(120)
        ckpt = str(tmp_path / "caller_ckpt")
        _drain_to_parquet(caller, events_src, str(tmp_path / "caller_out"), ckpt)
    finally:
        release.set()
        drain.join()
    assert not errors, errors
    want = caller.conf.get(_PARTS)
    assert all(c[_PARTS] == want for c in _offset_confs(ckpt))


def test_resume_keeps_checkpoint_partitions(spark, caller, sf_dir, tmp_path):
    """A checkpoint created at 32 partitions keeps 32 when resumed
    through ``run_dedup_to_parquet`` and appends only new events."""
    src, dst, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    events = read_table(spark, sf_dir, "events").limit(3000).cache()
    first = events.filter(F.col("event_id") < 1000)
    second = events.filter((F.col("event_id") >= 500) & (F.col("event_id") < 2000))

    old = spark.newSession()
    old.conf.set(_PARTS, "32")
    first.coalesce(1).write.parquet(src)
    _drain_to_parquet(old, src, dst, ckpt)
    n1 = spark.read.parquet(dst).count()
    assert n1 == first.select("event_id").distinct().count()

    second.coalesce(1).write.mode("append").parquet(src)
    run_dedup_to_parquet(caller, src, dst, ckpt)
    assert all(c[_PARTS] == "32" for c in _offset_confs(ckpt))
    out = spark.read.parquet(dst)
    union_n = first.unionByName(second).select("event_id").distinct().count()
    assert out.count() == union_n
    assert out.select("event_id").distinct().count() == union_n
    state = os.listdir(os.path.join(ckpt, "state", "0"))
    assert sorted(int(d) for d in state if d.isdigit()) == list(range(32))
    events.unpersist()


def test_runtime_conf_reaches_the_stream(caller, events_src):
    """Runtime settings on the caller reach the stream; a bare
    ``newSession()`` would run it under the context's default zone."""
    caller.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    child = stream_session(caller)
    assert child.conf.get(_PARTS) == str(caller.sparkContext.defaultParallelism)
    (
        child.readStream.schema("event_id bigint")
        .parquet(events_src)
        .select(F.current_timezone().alias("tz"))
        .writeStream.format("memory")
        .queryName("stream_session_tz")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert {r["tz"] for r in child.table("stream_session_tz").collect()} == {"Asia/Kolkata"}

"""Python Data Source API source: registration, partition planning,
both batch modes, fetcher injection and mode checks."""

from __future__ import annotations

import pytest

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.api_fetch import (
    fake_fetcher,
    ticker_records,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
    FinancialApiDataSource,
)

TICKERS = "AAPL,MSFT,GOOG,AMZN,NVDA"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(FinancialApiDataSource)


def test_info_mode_reads_all_tickers(spark):
    df = (
        spark.read.format("financial_api")
        .option("tickers", TICKERS)
        .option("mode", "info")
        .option("numPartitions", "2")
        .load()
    )
    rows = df.collect()
    assert {r["ticker"] for r in rows} == set(TICKERS.split(","))
    assert all(r["fetch_error"] is None for r in rows)
    assert df.rdd.getNumPartitions() == 2


@pytest.mark.parametrize("mode", ["info", "stock"])
def test_mode_matches_ticker_records(spark, mode):
    """The source's rows are ``ticker_records(fake_fetcher, t, mode)``
    for every ticker, in schema order."""
    ds = (
        spark.read.format("financial_api")
        .option("tickers", TICKERS)
        .option("mode", mode)
        .load()
    )
    fields = ds.schema.fieldNames()
    want = [
        tuple(rec.get(f) for f in fields)
        for t in TICKERS.split(",")
        for rec in ticker_records(fake_fetcher, t, mode)
    ]
    assert sorted(map(tuple, ds.collect())) == sorted(want)


def test_reregistering_the_base_restores_fake_fetcher(spark):
    def broken(ticker, mode):
        raise RuntimeError("api down")

    spark.dataSource.register(FinancialApiDataSource.with_fetcher(broken))
    spark.dataSource.register(FinancialApiDataSource)
    rows = spark.read.format("financial_api").option("tickers", TICKERS).load().collect()
    assert all(r["fetch_error"] is None for r in rows)


@pytest.mark.parametrize(
    "kind, mode",
    [("batch", "ticks"), ("batch", "bogus"), ("stream", "info"), ("stream", "bogus")],
)
def test_bad_mode_raises_naming_it(spark, tmp_path, kind, mode):
    """Batch reads take ``info``/``stock`` and streaming reads
    ``ticks``; any other mode fails with an error that names it instead
    of a schema mismatch or silently served stock bars."""
    if kind == "batch":
        with pytest.raises(Exception, match=f"mode '{mode}' is not a"):
            spark.read.format("financial_api").option("mode", mode).load().collect()
        return
    with pytest.raises(Exception, match=f"mode '{mode}' is not a"):
        q = (
            spark.readStream.format("financial_api")
            .option("mode", mode)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()


def test_partition_count_caps_at_tickers(spark):
    df = (
        spark.read.format("financial_api")
        .option("tickers", "AAPL,MSFT")
        .option("numPartitions", "16")
        .load()
    )
    assert df.rdd.getNumPartitions() <= 2
    assert df.count() == 2


# ---------------------------------------------------------------------------
# Streaming half (SimpleDataSourceStreamReader) — round 6
# ---------------------------------------------------------------------------


def test_stream_reader_replay_is_exact():
    """readBetweenOffsets must regenerate a committed range bit-exactly
    — the replay path the engine takes when a batch fails after its
    offset was logged."""
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
        FinancialApiStreamReader,
    )

    r = FinancialApiStreamReader(
        {"tickers": "AAPL,MSFT", "rowsPerBatch": "7", "maxSeq": "30"}
    )
    rows1, off1 = r.read(r.initialOffset())
    assert off1 == {"seq": 7}
    assert len(rows1) == 7 * 2
    replay = r.readBetweenOffsets({"seq": 0}, {"seq": 7})
    assert replay == rows1
    # the bounded tail: reading at maxSeq advances nothing
    tail, off_end = r.read({"seq": 30})
    assert tail == [] and off_end == {"seq": 30}


def test_stream_source_end_to_end(spark, tmp_path):
    """readStream over the registered source delivers exactly one row
    per (seq, ticker) with the deterministic prices. Python streaming
    sources don't support Trigger.AvailableNow (the engine logs a
    single-batch fallback), so the query runs on a processing-time
    trigger and is stopped once the bounded stream (maxSeq) has fully
    drained — the house polling pattern."""
    import time

    from pyspark.sql import functions as F

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
        FinancialApiDataSource,
    )

    spark.dataSource.register(FinancialApiDataSource)
    q = (
        spark.readStream.format("financial_api")
        .option("mode", "ticks")
        .option("tickers", "AAPL,MSFT,GOOG")
        .option("rowsPerBatch", "8")
        .option("maxSeq", "20")
        .load()
        .writeStream.format("memory")
        .queryName("ticks_e2e")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if spark.table("ticks_e2e").count() >= 20 * 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table("ticks_e2e")
    assert out.count() == 20 * 3
    assert out.select(F.count_distinct("seq")).collect()[0][0] == 20
    # spot-check determinism of one cell: seq=5, ticker index 1 (MSFT)
    row = out.filter("seq = 5 AND ticker = 'MSFT'").collect()[0]
    assert row.price == 100.0 + ((5 * 31 + 17) % 1000) / 100.0

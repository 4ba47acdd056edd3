"""Tests for the extract layer (the ``financial_api`` source over
sources/api_fetch.py) and sinks: the Spark-native retrieval.py
(SURVEY.md §2.1 S4, §2.10 B1-B3) with a mocked fetcher, including
per-ticker error isolation and idempotent overwrite."""

from __future__ import annotations

import fcntl
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import (
    run_transform,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.api_fetch import (
    fake_fetcher,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_marker,
    write_parquet_overwrite,
)


TICKERS = ["AAA", "BBB", "CCC", "DDD", "EEE", "BOOM"]


def _extract(spark, mode, partitions=2):
    # lowercase entries exercise the uppercase contract (retrieval.py:78)
    return (
        spark.read.format("financial_api")
        .option("tickers", "aaa,BBB,ccc,DDD,eee,BOOM")
        .option("mode", mode)
        .option("numPartitions", str(partitions))
        .load()
    )


def _ok(df):
    return df.filter(F.col("fetch_error").isNull()).drop("fetch_error")


def test_info_extract_distributed(spark):
    df = _extract(spark, "info", partitions=3)
    rows = {r["ticker"]: r for r in df.collect()}
    assert set(rows) == set(TICKERS)
    assert rows["AAA"]["shortname"] == "Aaa Inc"
    assert all(r["fetch_error"] is None for r in rows.values())
    # stringly-typed contract (retrieval.py:19)
    assert dict(df.dtypes)["fulltimeemployees"] == "string"


def test_fetch_error_isolation(spark, register_fetcher):
    def flaky(t, mode):
        if t == "BOOM":
            raise RuntimeError("api down")
        return fake_fetcher(t, mode)

    register_fetcher(flaky)
    rows = {r["ticker"]: r for r in _extract(spark, "info").collect()}
    # one bad ticker doesn't lose the rest (vs reference's whole-batch skip)
    assert rows["BOOM"]["fetch_error"] is not None
    assert rows["BOOM"]["shortname"] is None
    ok = [t for t, r in rows.items() if r["fetch_error"] is None]
    assert len(ok) == 5


def test_stock_extract_shape(spark):
    df = _extract(spark, "stock")
    assert df.filter(F.col("ticker") == "AAA").count() == 12  # monthly bars
    months = [
        r["month"]
        for r in df.filter("ticker = 'AAA'").select("month").orderBy("month").collect()
    ]
    assert months == sorted(months) and months[0] == "2024-01"


def _fin_raw(spark):
    """One 2024-03 statement per fixture ticker."""
    return spark.createDataFrame(
        [("2024-03", t, 10.0, 5.0, 1.0, 2.0, 3.0, 20.0, 10.0) for t in TICKERS],
        ["month", "ticker", "cash_and_cash_equivalents", "ebitda", "net_income",
         "net_debt", "total_debt", "current_assets", "current_liabilities"],
    )


def test_extract_to_transform_end_to_end(spark):
    """Full extract→transform: fetched raw tables flow through
    run_transform (the retrieval.py → cleaning.py pipeline seam)."""
    serving = run_transform(
        _ok(_extract(spark, "info")), _ok(_extract(spark, "stock")), _fin_raw(spark)
    )
    assert serving["company_info"].count() == 6
    assert serving["stock_price"].count() == 6 * 12
    assert serving["ratios"].filter("market_cap IS NULL").count() == 0


def _logging_fetcher(log: str):
    """``fake_fetcher`` that appends ``"<mode> <ticker> <seq>"`` to
    ``log`` per call, under a file lock, so calls made by any Python
    worker are counted. ``seq`` numbers the calls; the info snapshot's
    ``fulltimeemployees`` and ``sharesoutstanding`` both carry it."""

    def fetch(ticker, mode):
        with open(log, "a+") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            fh.seek(0)
            seq = len(fh.read().splitlines()) + 1
            fh.write(f"{mode} {ticker} {seq}\n")
        recs = fake_fetcher(ticker, mode)
        if mode == "info":
            recs = [{**recs[0], "fulltimeemployees": str(seq), "sharesoutstanding": str(seq)}]
        return recs

    return fetch


def test_refresh_fetches_each_ticker_once(spark, register_fetcher, tmp_path):
    """One refresh (extract → run_transform → the four writes) fetches
    each ticker once per mode, and company_info and ratios both come
    from the one info call."""
    log = str(tmp_path / "calls.log")
    register_fetcher(_logging_fetcher(log))
    serving = run_transform(
        _ok(_extract(spark, "info")), _ok(_extract(spark, "stock")), _fin_raw(spark)
    )
    for name, df in serving.items():
        write_parquet_overwrite(df, str(tmp_path / name))

    calls = [line.split() for line in open(log).read().splitlines()]
    for want_mode in ("info", "stock"):
        assert sorted(t for mode, t, _ in calls if mode == want_mode) == sorted(TICKERS)
    seq = {t: float(n) for mode, t, n in calls if mode == "info"}

    def read(name, col):
        rows = spark.read.parquet(str(tmp_path / name)).select("ticker", col).collect()
        return {r["ticker"]: r[col] for r in rows}

    assert read("company_info", "full_time_employees") == seq
    assert read("ratios", "outstanding_shares") == seq


def test_overwrite_idempotence_and_marker(spark):
    """B3/S9: writing twice ≡ writing once; marker file written."""
    d = tempfile.mkdtemp(prefix="sink_test_")
    try:
        path = os.path.join(d, "info")
        df = _extract(spark, "info")
        write_parquet_overwrite(df, path)
        write_parquet_overwrite(df, path)  # overwrite, not append
        assert spark.read.parquet(path).count() == 6
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        marker = os.path.join(d, "extract_step_completed.txt")
        stamp = write_marker(marker, "extract")
        assert os.path.exists(marker) and "extract" in stamp
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_upsert_partitions_touches_only_written_months(spark, tmp_path):
    from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
        upsert_partitions,
    )

    path = str(tmp_path / "monthly")
    base = spark.createDataFrame(
        [("2024-01", "AAPL", 1.0), ("2024-01", "MSFT", 2.0), ("2024-02", "AAPL", 3.0)],
        "month string, ticker string, px double",
    )
    upsert_partitions(base, path, ["month"])

    # refresh only 2024-02 with corrected data
    fix = spark.createDataFrame(
        [("2024-02", "AAPL", 30.0), ("2024-02", "MSFT", 40.0)],
        "month string, ticker string, px double",
    )
    upsert_partitions(fix, path, ["month"])

    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [
        ("AAPL", 1.0, "2024-01"),
        ("AAPL", 30.0, "2024-02"),
        ("MSFT", 2.0, "2024-01"),
        ("MSFT", 40.0, "2024-02"),
    ]

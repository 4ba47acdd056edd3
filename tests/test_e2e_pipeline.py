"""End-to-end pipeline: extract (Python DataSource) → transform
(run_transform) → parquet serving tables → dashboard queries — the
reference's full EventBridge→EC2→Lambda→RDS→Streamlit path
(retrieval.py → cleaning.py → TableTransform.py → Frontend.py) as one
lazy Spark pipeline with a parquet materialization boundary."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import run_transform
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.dashboard import (
    company_header,
    company_price_series,
    industry_averages,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
    FinancialApiDataSource,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_parquet_overwrite,
)

TICKERS = ["AAPL", "MSFT", "GOOG", "AMZN", "NVDA", "META", "TSLA", "ORCL"]


@pytest.fixture(scope="module")
def served(spark):
    """Run extract + transform + load once; serve the four tables."""
    spark.dataSource.register(FinancialApiDataSource)
    tickers_opt = ",".join(TICKERS)
    info_raw = (
        spark.read.format("financial_api")
        .option("tickers", tickers_opt)
        .option("mode", "info")
        .load()
        .drop("fetch_error")
    )
    stock_raw = (
        spark.read.format("financial_api")
        .option("tickers", tickers_opt)
        .option("mode", "stock")
        .load()
        .drop("fetch_error")
    )
    # quarterly financials: deterministic per-ticker rows, two quarters
    # so the latest-quarter argmax reduction has something to reduce
    fin_rows = []
    for i, t in enumerate(TICKERS):
        for q, month in enumerate(["2024-03", "2024-06"]):
            base = float(100 + 10 * i + q)
            fin_rows.append(
                (t, month, base, base * 2, base / 2, base, base * 3, base * 4, base)
            )
    fin_raw = spark.createDataFrame(
        fin_rows,
        "ticker string, month string, cash_and_cash_equivalents double, "
        "ebitda double, net_income double, net_debt double, total_debt double, "
        "current_assets double, current_liabilities double",
    )

    tables = run_transform(info_raw, stock_raw, fin_raw)
    d = tempfile.mkdtemp(prefix="e2e_serving_")
    for name, df in tables.items():
        write_parquet_overwrite(df, os.path.join(d, name))
    served = {name: spark.read.parquet(os.path.join(d, name)) for name in tables}
    yield served
    shutil.rmtree(d, ignore_errors=True)


def test_serving_tables_shapes(served):
    n = len(TICKERS)
    assert served["company_info"].count() == n
    assert served["ratios"].count() == n
    # latest-quarter reduction: one row per ticker, month dropped
    assert served["financial_statements"].count() == n
    assert "month" not in served["financial_statements"].columns
    assert served["stock_price"].count() == n * 12  # 12 monthly bars each


def test_latest_quarter_won(served):
    """The argmax join must have kept 2024-06 values (cash = base+1)."""
    row = served["financial_statements"].filter(F.col("ticker") == "AAPL").first()
    assert row["cash_and_cash_equivalents"] == 101.0  # i=0, q=1


def test_dashboard_header_and_series(served):
    hdr = company_header(served["company_info"], "aapl")  # case-insensitive
    assert hdr.count() == 1
    assert hdr.first()["company_nm"] == "Aapl Inc"

    series = company_price_series(served["stock_price"], "AAPL")
    months = [r["month_display"] for r in series.collect()]
    assert len(months) == 12
    assert months[0] == "Jan 2024" and months[-1] == "Dec 2024"


def test_dashboard_industry_averages(served, spark):
    hdr = company_header(served["company_info"], "AAPL").first()
    avg = industry_averages(
        served["company_info"],
        served["financial_statements"],
        served["ratios"],
        "AAPL",  # a point lookup in the per-snapshot industry index
    )
    rows = avg.collect()
    assert len(rows) == 1  # one aggregate row for the industry
    # every ticker in that industry contributed (null-skipping AVG over
    # a 1:1:1 left-join chain): spot-check the ebitda average
    peers = (
        served["company_info"].filter(F.col("industry") == hdr["industry"])
        .join(served["financial_statements"], "ticker")
    )
    expected = peers.agg(F.avg("ebitda")).first()[0]
    got = rows[0]["ebitda"]
    assert abs(got - expected) < 1e-9


def test_pipeline_rerun_is_idempotent(served, spark):
    """Serving refresh = overwrite: run-twice ≡ run-once (B3)."""
    d = tempfile.mkdtemp(prefix="e2e_idem_")
    try:
        p = os.path.join(d, "company_info")
        write_parquet_overwrite(served["company_info"], p)
        write_parquet_overwrite(served["company_info"], p)
        assert spark.read.parquet(p).count() == len(TICKERS)
    finally:
        shutil.rmtree(d, ignore_errors=True)

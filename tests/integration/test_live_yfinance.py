"""Live-network yfinance integration seam (VERDICT r8 item 6).

The S4 external-API source (the ``financial_api`` DataSource over
sources/api_fetch.py) is fully exercised against deterministic fakes —
retry/backoff policy, per-ticker error isolation, schema contract —
because this container has no network and no yfinance. This test is the
ONE-ENV-VAR-AWAY proof for the real path (reference
retrieval.py:18-66): the day a networked environment runs the suite
with yfinance installed and ``SPARK_GRAFT_LIVE_YFINANCE=1``, the
production fetcher, wrapped in ``RetryingFetcher``, goes through the
SAME ``financial_api`` source the fakes pin.

Run:  SPARK_GRAFT_LIVE_YFINANCE=1 python -m pytest tests/integration/ -q
"""

from __future__ import annotations

import os

import pytest

if not os.environ.get("SPARK_GRAFT_LIVE_YFINANCE"):
    pytest.skip(
        "live yfinance integration: set SPARK_GRAFT_LIVE_YFINANCE=1 in a "
        "networked environment with yfinance installed",
        allow_module_level=True,
    )
pytest.importorskip("yfinance", reason="yfinance not installed")

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.api_fetch import (  # noqa: E402
    STOCK_SCHEMA,
    RetryingFetcher,
    yfinance_fetcher,
)


@pytest.fixture
def live(spark, register_fetcher):
    """The session, its ``financial_api`` source fetching from yfinance."""
    register_fetcher(RetryingFetcher(yfinance_fetcher, max_attempts=3))
    return spark


def test_live_info_fetch_small_ticker_set(live):
    out = (
        live.read.format("financial_api")
        .option("tickers", "AAPL,MSFT,ZZZZ_NO_SUCH_TICKER")
        .option("mode", "info")
        .option("numPartitions", "3")
        .load()
        .collect()
    )
    by_ticker = {r.ticker: r for r in out}
    assert set(by_ticker) == {"AAPL", "MSFT", "ZZZZ_NO_SUCH_TICKER"}
    # real tickers produce data rows; the junk ticker must produce an
    # error-isolated row, not kill the partition (reference batches
    # swallow whole-batch failures; we isolate per ticker)
    assert by_ticker["AAPL"].fetch_error is None
    assert by_ticker["AAPL"].industry
    assert by_ticker["ZZZZ_NO_SUCH_TICKER"].fetch_error is not None


def test_live_stock_history_schema_contract(live):
    df = live.read.format("financial_api").option("tickers", "AAPL").option("mode", "stock").load()
    assert df.schema == STOCK_SCHEMA
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.ticker == "AAPL" for r in rows)

"""RetryingFetcher policy tests (S4 production adapter): retries are
bounded, backoff is exponential-with-deterministic-jitter, and only
declared-transient failures retry. All through the same Fetcher
protocol the ``financial_api`` source uses — no network needed. Also
``yfinance_fetcher`` against a stub ``yfinance`` module.
"""

from __future__ import annotations

import sys
import types

import pandas as pd
import pytest

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.api_fetch import (
    RetryingFetcher,
    fake_fetcher,
    ticker_records,
    yfinance_fetcher,
)


class Flaky:
    """Fails `n_failures` times with `exc`, then delegates to fake_fetcher."""

    def __init__(self, n_failures: int, exc: Exception):
        self.n_failures = n_failures
        self.exc = exc
        self.calls = 0

    def __call__(self, ticker: str, mode: str):
        self.calls += 1
        if self.calls <= self.n_failures:
            raise self.exc
        return fake_fetcher(ticker, mode)


def test_retries_transient_then_succeeds():
    sleeps: list[float] = []
    inner = Flaky(2, ConnectionError("rate limited"))
    f = RetryingFetcher(inner, max_attempts=3, base_delay_s=0.5, sleep=sleeps.append)
    bars = f("AAPL", "stock")
    assert len(bars) == 12 and all(b["ticker"] == "AAPL" for b in bars)
    assert inner.calls == 3
    # exponential base schedule with jitter in [1, 1.5)
    assert len(sleeps) == 2
    assert 0.5 <= sleeps[0] < 0.75
    assert 1.0 <= sleeps[1] < 1.5


def test_gives_up_after_max_attempts():
    sleeps: list[float] = []
    inner = Flaky(99, TimeoutError("still down"))
    f = RetryingFetcher(inner, max_attempts=3, base_delay_s=0.1, sleep=sleeps.append)
    with pytest.raises(TimeoutError):
        f("MSFT", "info")
    assert inner.calls == 3
    assert len(sleeps) == 2  # no sleep after the final attempt


def test_non_retryable_propagates_immediately():
    inner = Flaky(99, ValueError("bad ticker"))
    f = RetryingFetcher(inner, max_attempts=5, sleep=lambda s: None)
    with pytest.raises(ValueError):
        f("GOOG", "info")
    assert inner.calls == 1


def test_jitter_deterministic_and_ticker_spread():
    f = RetryingFetcher(fake_fetcher, sleep=lambda s: None)
    assert f._jitter("AAPL", 0) == f._jitter("AAPL", 0)
    # different tickers should not all share one backoff schedule
    vals = {f._jitter(t, 0) for t in ("AAPL", "MSFT", "GOOG", "AMZN", "META")}
    assert len(vals) > 1
    assert all(1.0 <= v < 1.5 for v in vals)


def test_retrying_fetcher_isolates_inside_distributed_extract(spark, register_fetcher):
    """End-to-end through the ``financial_api`` source: a fetcher whose
    transient failure exhausts retries surfaces as that ticker's
    fetch_error row; healthy tickers are unaffected."""

    class FailsOne:
        def __call__(self, ticker: str, mode: str):
            if ticker == "BAD":
                raise ConnectionError("down")
            return fake_fetcher(ticker, mode)

    register_fetcher(RetryingFetcher(FailsOne(), max_attempts=2, sleep=lambda s: None))
    df = spark.read.format("financial_api").option("tickers", "aapl,bad,msft").load()
    rows = {r["ticker"]: r for r in df.collect()}
    assert rows["BAD"]["fetch_error"] is not None
    assert rows["AAPL"]["fetch_error"] is None
    assert rows["MSFT"]["shortname"] == "Msft Inc"


def test_yfinance_fetcher_gated_import(monkeypatch):
    monkeypatch.setitem(sys.modules, "yfinance", None)  # import raises
    with pytest.raises(ImportError, match="yfinance"):
        yfinance_fetcher("AAPL", "info")


def test_yfinance_fetcher_fetches_only_what_the_mode_reads(monkeypatch):
    """Mode ``info`` reads ``Ticker.info`` and never the history, mode
    ``stock`` the reverse, so a refresh (one info and one stock load)
    makes 2 API calls per ticker, as the reference does. Info keys are
    lowercased and values stringified; bars are keyed ``YYYY-MM``."""
    calls = []

    class Ticker:
        def __init__(self, symbol):
            self.symbol = symbol

        @property
        def info(self):
            calls.append(("info", self.symbol))
            return {"shortName": "Apple Inc.", "Industry": "Tech",
                    "fullTimeEmployees": 164000, "dividendYield": None}

        def history(self, period, interval):
            calls.append(("history", self.symbol, period, interval))
            return pd.DataFrame(
                {"Open": [1.0, 2.0], "Close": [1.5, 2.5], "High": [2.0, 3.0],
                 "Low": [0.5, 1.5], "Volume": [10, 20], "Dividends": [0.0, 0.25]},
                index=pd.to_datetime(["2024-01-01", "2024-02-01"]),
            )

    monkeypatch.setitem(sys.modules, "yfinance", types.SimpleNamespace(Ticker=Ticker))

    [info] = ticker_records(yfinance_fetcher, "AAPL", "info")
    assert calls == [("info", "AAPL")]
    assert info["ticker"] == "AAPL" and info["fetch_error"] is None
    assert info["shortname"] == "Apple Inc." and info["industry"] == "Tech"
    assert info["fulltimeemployees"] == "164000" and info["dividendyield"] == ""
    assert info["website"] is None  # absent upstream

    calls.clear()
    bars = ticker_records(yfinance_fetcher, "AAPL", "stock")
    assert calls == [("history", "AAPL", "2y", "1mo")]
    assert [b["month"] for b in bars] == ["2024-01", "2024-02"]
    assert bars[1]["close"] == 2.5 and bars[1]["volume"] == 20.0
    assert bars[1]["dividends"] == 0.25 and bars[1]["stock_splits"] == 0.0
    assert all(b["ticker"] == "AAPL" and b["fetch_error"] is None for b in bars)

"""Distributed external-API extract source (SURVEY.md §2.1 S4, §2.10).

The reference fetches yfinance serially per ticker on one EC2 box with
linspace batching for memory and try/except per batch
(retrieval.py:133-151, ~30 min for the full list, README.md:18). The
Spark-native shape: the ticker seed DataFrame is repartitioned to the
desired fetch parallelism and each partition runs an Arrow-batched
``mapInPandas`` fetch — N workers fetching concurrently, per-ticker
error isolation instead of per-batch, and the engine handles retries
and partial-result semantics.

Network access doesn't exist in this container, so the fetcher is
injectable: ``fake_fetcher`` produces deterministic reference-shaped
records (same columns yfinance yields after the reference's column
normalization). The distributed plumbing — partitioning, batch
iteration, error rows, schema contract — is the real production path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INFO_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("shortname", T.StringType()),
        T.StructField("website", T.StringType()),
        T.StructField("industry", T.StringType()),
        T.StructField("longbusinesssummary", T.StringType()),
        T.StructField("fulltimeemployees", T.StringType()),
        T.StructField("sharesoutstanding", T.StringType()),
        T.StructField("previousclose", T.StringType()),
        T.StructField("freecashflow", T.StringType()),
        T.StructField("operatingcashflow", T.StringType()),
        T.StructField("dividendyield", T.StringType()),
        T.StructField("trailingpe", T.StringType()),
        T.StructField("debttoequity", T.StringType()),
        T.StructField("returnonassets", T.StringType()),
        T.StructField("returnonequity", T.StringType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)

STOCK_SCHEMA = T.StructType(
    [
        T.StructField("month", T.StringType()),
        T.StructField("ticker", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("dividends", T.DoubleType()),
        T.StructField("stock_splits", T.DoubleType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)

# A fetcher maps one ticker -> (info_record dict, list of monthly bars).
Fetcher = Callable[[str], tuple[dict, list[dict]]]


def fake_fetcher(ticker: str) -> tuple[dict, list[dict]]:
    """Deterministic stand-in for the yfinance client: stable pseudo
    values derived from the ticker string (no RNG, no network)."""
    h = sum(ord(c) * (i + 1) for i, c in enumerate(ticker)) % 997
    base = 10.0 + (h % 90)
    info = {
        "ticker": ticker,
        "shortname": f"{ticker.title()} Inc",
        "website": f"https://{ticker.lower()}.example.com",
        "industry": ["Tech", "Energy", "Finance", "Health"][h % 4],
        "longbusinesssummary": f"{ticker} synthetic business summary",
        "fulltimeemployees": str(100 + h),
        "sharesoutstanding": str(1000 + 10 * h),
        "previousclose": str(base),
        "freecashflow": str(50 + h % 20),
        "operatingcashflow": str(60 + h % 25),
        "dividendyield": None if h % 3 == 0 else str(round(0.01 + (h % 5) / 100, 4)),
        "trailingpe": str(8 + h % 30),
        "debttoequity": str(round(0.5 + (h % 10) / 10, 2)),
        "returnonassets": str(round(0.02 + (h % 7) / 100, 4)),
        "returnonequity": str(round(0.05 + (h % 9) / 100, 4)),
    }
    bars = []
    for i, month in enumerate(
        f"2024-{m:02d}" for m in range(1, 13)
    ):
        px = base + i * (1 + h % 3)
        bars.append(
            {
                "month": month,
                "ticker": ticker,
                "open": px,
                "close": px + 0.5,
                "high": px + 1.0,
                "low": px - 1.0,
                "volume": float(1000 * (h + i + 1)),
                "dividends": 0.0,
                "stock_splits": 0.0,
            }
        )
    return info, bars


class RetryingFetcher:
    """Retry/backoff decorator for any :data:`Fetcher` — the production
    policy the reference lacks (its extract loop drops a whole linspace
    batch on one failure, retrieval.py:140-151).

    Exponential backoff with deterministic jitter: attempt ``i`` sleeps
    ``base * 2**i * (1 + (hash(ticker, i) % 1000) / 2000)`` seconds —
    jitter derived from the ticker, not an RNG, so behavior is
    reproducible and fleet-wide retries of the same failure window
    don't synchronize into a thundering herd. Runs INSIDE the
    ``mapInPandas`` workers, so a retrying ticker stalls only its own
    partition's row, not the job.

    ``retry_on`` bounds which failures retry (rate limits / transient
    transport errors); anything else propagates immediately to the
    caller's per-ticker error isolation. ``sleep`` is injectable for
    tests.
    """

    def __init__(
        self,
        inner: Fetcher,
        max_attempts: int = 3,
        base_delay_s: float = 1.0,
        retry_on: tuple[type[BaseException], ...] = (ConnectionError, TimeoutError),
        sleep: Callable[[float], None] | None = None,
    ) -> None:
        if max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        self._inner = inner
        self._max_attempts = max_attempts
        self._base = base_delay_s
        self._retry_on = retry_on
        if sleep is None:
            import time

            sleep = time.sleep
        self._sleep = sleep

    def _jitter(self, ticker: str, attempt: int) -> float:
        h = sum(ord(c) * (i + 1) for i, c in enumerate(ticker))
        return 1.0 + ((h * 31 + attempt * 17) % 1000) / 2000.0

    def __call__(self, ticker: str) -> tuple[dict, list[dict]]:
        last: BaseException | None = None
        for attempt in range(self._max_attempts):
            try:
                return self._inner(ticker)
            except self._retry_on as exc:
                last = exc
                if attempt + 1 < self._max_attempts:
                    self._sleep(self._base * (2**attempt) * self._jitter(ticker, attempt))
        assert last is not None
        raise last


def yfinance_fetcher(ticker: str) -> tuple[dict, list[dict]]:
    """Real yfinance client behind the same :data:`Fetcher` protocol
    (retrieval.py:10-66 equivalent): ``Ticker.info`` snapshot +
    2 years of monthly bars, column names normalized to the reference
    contract (lowercased/underscored, retrieval.py:23,45; month key
    'YYYY-MM', retrieval.py:44).

    yfinance is not installed in this container — the import is gated
    and raises ImportError with guidance; wrap in
    ``RetryingFetcher(yfinance_fetcher)`` for the production policy.
    All tests run against ``fake_fetcher`` through the identical
    protocol, so the distributed plumbing is exercised without network.
    """
    try:
        import yfinance  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - no network/lib here
        raise ImportError(
            "yfinance is not available in this environment; inject "
            "fake_fetcher (tests) or install yfinance (production)"
        ) from exc

    tk = yfinance.Ticker(ticker)  # pragma: no cover - network path
    raw = {str(k).lower(): ("" if v is None else str(v)) for k, v in tk.info.items()}
    info = {f.name: raw.get(f.name) for f in INFO_SCHEMA.fields if f.name != "fetch_error"}
    info["ticker"] = ticker
    hist = tk.history(period="2y", interval="1mo")
    bars = []
    for idx, row in hist.iterrows():
        bars.append(
            {
                "month": idx.strftime("%Y-%m"),
                "ticker": ticker,
                "open": float(row["Open"]),
                "close": float(row["Close"]),
                "high": float(row["High"]),
                "low": float(row["Low"]),
                "volume": float(row["Volume"]),
                "dividends": float(row.get("Dividends", 0.0)),
                "stock_splits": float(row.get("Stock Splits", 0.0)),
            }
        )
    return info, bars


def ticker_records(fetcher: Fetcher, ticker: str, mode: str) -> list[dict]:
    """One ticker's output records: its ``info`` snapshot (mode
    ``"info"``) or one record per monthly bar (any other mode), each
    with ``fetch_error`` None. A failing fetch becomes a single
    ``{"ticker", "fetch_error"}`` row — per-ticker error isolation, vs
    the reference's skip-a-whole-batch try/except
    (retrieval.py:140-151)."""
    try:
        info, bars = fetcher(ticker)
        if mode == "info":
            return [{**info, "fetch_error": None}]
        return [{**b, "fetch_error": None} for b in bars]
    except Exception as exc:
        return [{"ticker": ticker, "fetch_error": repr(exc)}]


def _fetch(
    tickers: DataFrame,
    fetcher: Fetcher,
    parallelism: int | None,
    ticker_col: str,
    mode: str,
) -> DataFrame:
    schema = INFO_SCHEMA if mode == "info" else STOCK_SCHEMA
    cols = schema.fieldNames()
    src = tickers.select(F.upper(F.col(ticker_col)).alias("ticker"))
    if parallelism:
        src = src.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [r for t in pdf["ticker"] for r in ticker_records(fetcher, t, mode)]
            yield pd.DataFrame(out, columns=cols)

    return src.mapInPandas(run, schema=schema)


def fetch_info(
    tickers: DataFrame,
    fetcher: Fetcher = fake_fetcher,
    parallelism: int | None = None,
    ticker_col: str = "ticker_name",
) -> DataFrame:
    """Per-ticker snapshot extract (getDescription, retrieval.py:10-25).

    ``repartition(parallelism)`` replaces the reference's linspace RAM
    batching (retrieval.py:133-137): fetch concurrency == partition
    count, each worker holds only its partition. Failures isolate
    per-ticker into ``fetch_error`` rows (:func:`ticker_records`).
    """
    return _fetch(tickers, fetcher, parallelism, ticker_col, "info")


def fetch_stock_history(
    tickers: DataFrame,
    fetcher: Fetcher = fake_fetcher,
    parallelism: int | None = None,
    ticker_col: str = "ticker_name",
) -> DataFrame:
    """Per-ticker monthly-bar history extract (getStock,
    retrieval.py:27-47): one output row per (ticker, month)."""
    return _fetch(tickers, fetcher, parallelism, ticker_col, "stock")

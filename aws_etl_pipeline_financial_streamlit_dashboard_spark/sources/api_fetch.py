"""Per-ticker records of the external financial API (SURVEY.md §2.1
S4, §2.10): the schemas, the fetcher protocol, the fetchers and
:func:`ticker_records`.

The reference fetches yfinance serially per ticker on one EC2 box with
linspace batching for memory and try/except per batch
(retrieval.py:133-151, ~30 min for the full list, README.md:18). Here
the one extract is the ``financial_api`` DataSource
(``sources/datasource.py``): the engine plans ticker partitions, and
each partition's reader calls :func:`ticker_records` per ticker —
per-ticker error isolation instead of per-batch.

Network access doesn't exist in this container, so the fetcher is
injectable: ``fake_fetcher`` produces deterministic reference-shaped
records (same columns yfinance yields after the reference's column
normalization).
"""

from __future__ import annotations

from collections.abc import Callable

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

# A fetcher maps (ticker, mode) -> records: mode "info" fetches the
# ticker's info snapshot (one record), mode "stock" its monthly bars
# (one record per month). It fetches only what the mode reads.
Fetcher = Callable[[str, str], list[dict]]


def fake_fetcher(ticker: str, mode: str) -> list[dict]:
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
    if mode == "info":
        return [info]
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
    return bars


class RetryingFetcher:
    """Retry/backoff decorator for any :data:`Fetcher` — the production
    policy the reference lacks (its extract loop drops a whole linspace
    batch on one failure, retrieval.py:140-151).

    Exponential backoff with deterministic jitter: attempt ``i`` sleeps
    ``base * 2**i * (1 + (hash(ticker, i) % 1000) / 2000)`` seconds —
    jitter derived from the ticker, not an RNG, so behavior is
    reproducible and fleet-wide retries of the same failure window
    don't synchronize into a thundering herd. Runs INSIDE the
    ``financial_api`` source's partition readers, so a retrying ticker
    stalls only its own partition, not the job.

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

    def __call__(self, ticker: str, mode: str) -> list[dict]:
        last: BaseException | None = None
        for attempt in range(self._max_attempts):
            try:
                return self._inner(ticker, mode)
            except self._retry_on as exc:
                last = exc
                if attempt + 1 < self._max_attempts:
                    self._sleep(self._base * (2**attempt) * self._jitter(ticker, attempt))
        assert last is not None
        raise last


def yfinance_fetcher(ticker: str, mode: str) -> list[dict]:
    """Real yfinance client behind the same :data:`Fetcher` protocol
    (retrieval.py:10-66 equivalent): mode ``"info"`` reads only the
    ``Ticker.info`` snapshot (getDescription), mode ``"stock"`` only
    2 years of monthly bars (getStock), column names normalized to the
    reference contract (lowercased/underscored, retrieval.py:23,45;
    month key 'YYYY-MM', retrieval.py:44). Info values are stringified,
    except a ``None`` (say, a non-dividend stock's ``dividendYield``),
    which stays null: the transform's strict double casts reject ``''``.

    yfinance is not installed in this container — the import is gated
    and raises ImportError with guidance; wrap in
    ``RetryingFetcher(yfinance_fetcher)`` for the production policy.
    The tests run the source against ``fake_fetcher`` through the
    identical protocol, and this function against a stub module.
    """
    try:
        import yfinance  # type: ignore[import-not-found]
    except ImportError as exc:
        raise ImportError(
            "yfinance is not available in this environment; inject "
            "fake_fetcher (tests) or install yfinance (production)"
        ) from exc

    tk = yfinance.Ticker(ticker)
    if mode == "info":
        raw = {str(k).lower(): (None if v is None else str(v)) for k, v in tk.info.items()}
        info = {f.name: raw.get(f.name) for f in INFO_SCHEMA.fields if f.name != "fetch_error"}
        info["ticker"] = ticker
        return [info]
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
    return bars


def ticker_records(fetcher: Fetcher, ticker: str, mode: str) -> list[dict]:
    """One ticker's output records for ``mode`` (``fetcher``'s records,
    each with ``fetch_error`` None). A failing fetch becomes a single
    ``{"ticker", "fetch_error"}`` row — per-ticker error isolation, vs
    the reference's skip-a-whole-batch try/except
    (retrieval.py:140-151)."""
    try:
        return [{**r, "fetch_error": None} for r in fetcher(ticker, mode)]
    except Exception as exc:
        return [{"ticker": ticker, "fetch_error": repr(exc)}]

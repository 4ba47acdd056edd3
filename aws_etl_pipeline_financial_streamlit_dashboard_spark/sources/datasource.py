"""Spark 4 Python Data Source API wrapper for the external financial
API extract (SURVEY.md §2.1 S4 — the reference's yfinance fetch,
retrieval.py:10-66). It is the package's one extract path:

    spark.dataSource.register(FinancialApiDataSource)
    df = (spark.read.format("financial_api")
          .option("tickers", "AAPL,MSFT,GOOG")
          .option("mode", "stock")           # or "info"
          .option("numPartitions", "8")
          .load())

Being a real DataSource means the catalog/reader stack owns it: schema
is declared up front, partitions are planned by the engine (one fetch
task per partition, the distributed replacement for the reference's
serial linspace batching, retrieval.py:133-146), and downstream ops
compose like any other scan. Each partition's reader turns its tickers
into rows with ``sources/api_fetch.ticker_records``.

The fetcher is the source's ``fetcher`` class attribute, by default the
deterministic ``fake_fetcher`` (no network in this container). Inject
another one by registering :meth:`FinancialApiDataSource.with_fetcher`.
Batch reads take mode ``info`` or ``stock``, streaming reads mode
``ticks``; any other mode is an error that names it.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql import types as T

from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.api_fetch import (
    INFO_SCHEMA,
    STOCK_SCHEMA,
    Fetcher,
    fake_fetcher,
    ticker_records,
)

BATCH_SCHEMAS = {"info": INFO_SCHEMA, "stock": STOCK_SCHEMA}


def _mode(options, allowed, read: str) -> str:
    mode = options.get("mode", "info")
    if mode not in allowed:
        raise ValueError(
            f"financial_api: mode {mode!r} is not a {read} mode "
            f"(expected one of {', '.join(allowed)})"
        )
    return mode


class _TickerPartition(InputPartition):
    def __init__(self, tickers: list[str]):
        self.tickers = tickers


class FinancialApiReader(DataSourceReader):
    def __init__(self, options, fetcher: Fetcher):
        raw = options.get("tickers", "")
        self.tickers = [t.strip().upper() for t in raw.split(",") if t.strip()]
        self.mode = _mode(options, BATCH_SCHEMAS, "batch")
        self.num_partitions = int(options.get("numPartitions", "4"))
        self.fetcher = fetcher

    def partitions(self):
        """Contiguous ticker chunks — the reference's linspace batching
        (retrieval.py:134-137), but planned as engine partitions that
        run concurrently instead of a serial driver loop."""
        n = max(1, min(self.num_partitions, len(self.tickers) or 1))
        chunk = -(-len(self.tickers) // n)
        return [
            _TickerPartition(self.tickers[i : i + chunk])
            for i in range(0, len(self.tickers), chunk)
        ] or [_TickerPartition([])]

    def read(self, partition):
        fields = BATCH_SCHEMAS[self.mode].fieldNames()
        for t in partition.tickers:
            for rec in ticker_records(self.fetcher, t, self.mode):
                yield tuple(rec.get(f) for f in fields)


class FinancialApiDataSource(DataSource):
    """``format("financial_api")`` — register with
    ``spark.dataSource.register(FinancialApiDataSource)``."""

    fetcher: Fetcher = fake_fetcher

    @classmethod
    def name(cls) -> str:
        return "financial_api"

    @classmethod
    def with_fetcher(cls, fetcher: Fetcher) -> type[FinancialApiDataSource]:
        """This source extracting through ``fetcher``; register the result.

        Defined inside this call, the subclass (with ``fetcher``) is
        pickled by value for the planner and worker processes; a
        module-level subclass would be pickled by reference. ``fetcher``
        must unpickle there too: a package function, a function defined
        in a function, or an instance of an importable class such as
        ``RetryingFetcher``. Register ``FinancialApiDataSource`` again to
        restore ``fake_fetcher``."""

        class Injected(cls):
            pass

        Injected.fetcher = fetcher
        return Injected

    def schema(self):
        mode = _mode(self.options, (*BATCH_SCHEMAS, "ticks"), "financial_api")
        return TICKS_SCHEMA if mode == "ticks" else BATCH_SCHEMAS[mode]

    def reader(self, schema) -> DataSourceReader:
        # read on the class: a plain function stored on it would bind
        # as a method if read on the instance
        return FinancialApiReader(self.options, type(self).fetcher)

    def simpleStreamReader(self, schema) -> FinancialApiStreamReader:
        _mode(self.options, ("ticks",), "streaming")
        return FinancialApiStreamReader(self.options)


# ---------------------------------------------------------------------------
# Streaming half of the source (Spark 4 SimpleDataSourceStreamReader):
# the polling-API shape — each micro-batch is the next window of ticks,
# offsets are a monotone sequence number tracked by the engine's
# checkpoint, and replay is exact because generation is deterministic.
# ---------------------------------------------------------------------------

TICKS_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("price", T.DoubleType()),
    ]
)


class FinancialApiStreamReader(SimpleDataSourceStreamReader):
    """Streaming tick source over the deterministic fake API.

    Offset contract: ``{"seq": n}`` — ticks [start, next) are emitted
    per micro-batch (``rowsPerBatch`` seqs per batch, one row per
    (seq, ticker)). ``readBetweenOffsets`` regenerates a committed
    range bit-exactly (the replay path a failed batch triggers) —
    deterministic generation IS the exactly-once story on the source
    side, the dual of s17's ledger on the sink side. ``maxSeq`` bounds
    the stream (reads past it return an empty batch with an unchanged
    offset; a live API would leave it unbounded). Python streaming
    sources do not support Trigger.AvailableNow — drive with a
    processing-time trigger and stop on the sink count (the house
    polling pattern).
    """

    def __init__(self, options):
        raw = options.get("tickers", "AAPL")
        self.tickers = [t.strip().upper() for t in raw.split(",") if t.strip()]
        self.rows_per_batch = int(options.get("rowsPerBatch", "10"))
        self.max_seq = int(options.get("maxSeq", "100"))

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        s = int(start["seq"])
        e = min(s + self.rows_per_batch, self.max_seq)
        # a LIST, not a generator: the engine's prefetch cache
        # copy.copy()s the returned iterator when a later
        # readBetweenOffsets hits the cache, and generators are not
        # copyable/picklable
        return self._rows(s, e), {"seq": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["seq"]), int(end["seq"]))

    def _rows(self, s: int, e: int) -> list:
        return [
            # deterministic integer-derived price (no RNG state —
            # the x67/x73 discipline applied to a source)
            (t, seq, 100.0 + ((seq * 31 + i * 17) % 1000) / 100.0)
            for seq in range(s, e)
            for i, t in enumerate(self.tickers)
        ]

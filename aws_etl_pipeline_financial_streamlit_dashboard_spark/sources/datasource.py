"""Spark 4 Python Data Source API wrapper for the external financial
API extract (SURVEY.md §2.1 S4 — the reference's yfinance fetch,
retrieval.py:10-66).

Where ``sources/api_fetch.py`` drives the fetch through ``mapInPandas``
over a ticker DataFrame, this module registers a first-class source:

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
compose like any other scan.

The fetcher is the deterministic fake (no network in this container);
the partition planning, per-partition iteration, and schema contract
are the production shape.
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
    fake_fetcher,
    ticker_records,
)


class _TickerPartition(InputPartition):
    def __init__(self, tickers: list[str]):
        self.tickers = tickers


class FinancialApiReader(DataSourceReader):
    def __init__(self, options):
        raw = options.get("tickers", "")
        self.tickers = [t.strip().upper() for t in raw.split(",") if t.strip()]
        self.mode = options.get("mode", "info")
        self.num_partitions = int(options.get("numPartitions", "4"))

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
        fields = (INFO_SCHEMA if self.mode == "info" else STOCK_SCHEMA).fieldNames()
        for t in partition.tickers:
            for rec in ticker_records(fake_fetcher, t, self.mode):
                yield tuple(rec.get(f) for f in fields)


class FinancialApiDataSource(DataSource):
    """``format("financial_api")`` — register with
    ``spark.dataSource.register(FinancialApiDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "financial_api"

    def schema(self):
        mode = self.options.get("mode", "info")
        if mode == "ticks":
            return TICKS_SCHEMA
        return INFO_SCHEMA if mode == "info" else STOCK_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return FinancialApiReader(self.options)

    def simpleStreamReader(self, schema) -> "FinancialApiStreamReader":
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

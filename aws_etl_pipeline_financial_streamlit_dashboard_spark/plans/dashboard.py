"""The reference's six dashboard queries (Frontend.py:28-97) as Spark
plans over the curated serving tables (SURVEY.md §3 entry point 3).

The reference re-runs its industry queries against Postgres for every
ticker a user enters and post-processes them in pandas (positional
join, index relabel, transpose). Here the industry work is done once
per serving snapshot, i.e. per set of input DataFrames:

- ``_MONTHLY`` maps each ticker to its industry's monthly average
  close, ``_AVERAGES`` to its industry's 12 averages, and
  ``_COMPARISON`` to its long-form comparison rows: the company's own
  row and the "Industry Average" row.
- Each index is memoized on the identity of its input DataFrames,
  materialized once by an eager ``localCheckpoint`` into
  ``defaultParallelism`` partitions hashed by ticker. Concurrent first
  pages build it once. When an input is garbage-collected the memo
  forgets the index, and Spark unpersists it once no page frame built
  on it is left.
- A page is then point lookups: ``filter(ticker == T)`` over an index
  or a serving table. A page's frames are bounded, so the series sort
  as ``coalesce(1).sortWithinPartitions`` (one sorted partition, no
  range exchange), and the header's ``limit(1)`` reads one partition.
  With the index built, each frame is one Spark job.

A snapshot is immutable: a refresh is seen by re-reading the serving
tables, which gives new DataFrames and so a new index.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import (
    month_display,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.core import (
    union_align,
    unpivot_metrics,
)

# The 12 AVG metrics of the industry-comparison query (Frontend.py:60-69).
INDUSTRY_AVG_COLS = [
    "cash_and_cash_equivalents",
    "ebitda",
    "net_income",
    "net_debt",
    "current_ratio",
    "free_cash_flow",
    "operating_cash_flow",
    "debt_to_equity",
    "return_on_assets",
    "return_on_equity",
    "ev_to_ebitda",
    "trailing_pe",
]

STATEMENT_METRICS = [
    "cash_and_cash_equivalents",
    "ebitda",
    "net_income",
    "net_debt",
    "current_ratio",
]

RATIO_METRICS = [
    "free_cash_flow",
    "operating_cash_flow",
    "debt_to_equity",
    "return_on_assets",
    "return_on_equity",
    "ev_to_ebitda",
    "trailing_pe",
]

INDUSTRY_LABEL = "Industry Average"  # Frontend.py:88


def _upper(ticker: str) -> str:
    # case-insensitive ticker contract (Frontend.py:23, retrieval.py:78)
    return ticker.upper()


def point_lookup(table: DataFrame, ticker: str) -> DataFrame:
    """P4: ``SELECT * FROM <t> WHERE ticker = ?`` (Frontend.py:28-55)."""
    return table.filter(F.col("ticker") == _upper(ticker))


# ---------------------------------------------------------------------------
# the per-snapshot industry index
# ---------------------------------------------------------------------------


def _ticker_industry(company_info: DataFrame) -> DataFrame:
    """One industry per ticker: the reference reads the page ticker's
    industry with a one-row lookup (Frontend.py:28-32 → 67, 77). A null
    industry matches no industry, so its industry frames are empty."""
    return company_info.groupBy("ticker").agg(F.min("industry").alias("industry"))


def _build_monthly(company_info: DataFrame, stock_price: DataFrame) -> DataFrame:
    """ticker → its industry's monthly average close (Frontend.py:71-79).
    The LEFT join keeps an industry member without prices as a
    NULL-month group, as the reference's SQL does."""
    by_industry = (
        company_info.select("ticker", "industry")
        .join(stock_price, "ticker", "left")
        .groupBy("industry", "month")
        .agg(F.avg("closing_price").alias("avg_closing_price"))
    )
    return _ticker_industry(company_info).join(by_industry, "industry").select(
        "ticker",
        "month",
        "avg_closing_price",
        month_display(F.col("month")).alias("month_display"),
    )


def _build_averages(
    company_info: DataFrame, financial_statements: DataFrame, ratios: DataFrame
) -> DataFrame:
    """ticker → its industry's 12-AVG row over the 3-way left-join chain
    (Frontend.py:60-69), ties and NULL inputs included as the reference's
    SQL has them."""
    averages = (
        company_info.select("ticker", "industry")
        .join(financial_statements, "ticker", "left")
        .join(ratios.drop("current_ratio"), "ticker", "left")
        .groupBy("industry")
        .agg(*[F.avg(c).alias(c) for c in INDUSTRY_AVG_COLS])
    )
    return _ticker_industry(company_info).join(averages, "industry")


def _build_comparison(
    company_info: DataFrame, financial_statements: DataFrame, ratios: DataFrame
) -> DataFrame:
    """ticker → long-form (label, metric, value) rows: the company's row,
    labelled with its ticker, and its industry's averages, labelled
    ``INDUSTRY_LABEL`` (Frontend.py:84-97). The reference's pandas
    choreography — positional join (J7), index relabel (R4), union-align
    (U2), transpose ×2 (R2) — is a label column, unionByName and unpivot.

    The company row is the statement row LEFT-joined to its ratios
    (Frontend.py:84). Cleaning keeps tied latest quarters
    (cleaning.py:62-63) and the reference shows one row, so the minimum
    of the row struct picks the same one on every build."""
    company = financial_statements.join(ratios.drop("current_ratio"), "ticker", "left")
    metrics = [c for c in company.columns if c != "ticker"]
    company = company.groupBy("ticker").agg(F.min(F.struct(*metrics)).alias("row"))
    company = company.select("ticker", F.col("ticker").alias("label"), "row.*")
    averages = _AVERAGES(company_info, financial_statements, ratios)
    both = union_align(
        company,
        averages.drop("industry").withColumn("label", F.lit(INDUSTRY_LABEL)),
    )
    metrics = [c for c in both.columns if c not in ("ticker", "label")]
    return unpivot_metrics(both, ["ticker", "label"], metrics)


def _materialize(frame: DataFrame) -> DataFrame:
    # an explicit partition count is exempt from AQE, so the index keeps
    # it instead of the session's shuffle partitions
    n = frame.sparkSession.sparkContext.defaultParallelism
    return frame.repartition(n, "ticker").localCheckpoint(eager=True)


class _Entry:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.frame: DataFrame | None = None


class _SnapshotIndex:
    """``build(*inputs)`` materialized once per set of input DataFrames,
    by identity. The entry is dropped when any input is collected, and
    Spark's context cleaner unpersists the index once no frame built on
    it is left."""

    def __init__(self, build) -> None:
        self._build = build
        self._lock = threading.Lock()
        self._entries: dict[tuple[int, ...], _Entry] = {}

    def __call__(self, *inputs: DataFrame) -> DataFrame:
        key = tuple(map(id, inputs))
        with self._lock:
            entry = self._entries.get(key)
            if entry is None:
                entry = self._entries[key] = _Entry()
                # runs while the input is collected, before its id can
                # be reused by another DataFrame
                for df in inputs:
                    weakref.finalize(df, self._entries.pop, key, None)
        with entry.lock:  # concurrent first pages build it once
            if entry.frame is None:
                entry.frame = _materialize(self._build(*inputs))
            return entry.frame


_MONTHLY = _SnapshotIndex(_build_monthly)
_AVERAGES = _SnapshotIndex(_build_averages)
_COMPARISON = _SnapshotIndex(_build_comparison)


# ---------------------------------------------------------------------------
# page frames
# ---------------------------------------------------------------------------


def _sorted_by_month(df: DataFrame) -> DataFrame:
    # a page's series is bounded: one partition sorts it with no exchange
    return df.coalesce(1).sortWithinPartitions("month")


def company_header(company_info: DataFrame, ticker: str) -> DataFrame:
    """P6: the one-row company header (Frontend.py:28-37). On one
    partition the limit is one job, not a scan that scales up."""
    return point_lookup(company_info, ticker).coalesce(1).select(
        "ticker", "company_nm", "website", "industry", "company_info"
    ).limit(1)


def industry_averages(
    company_info: DataFrame,
    financial_statements: DataFrame,
    ratios: DataFrame,
    ticker: str,
) -> DataFrame:
    """The ticker's industry row of the 12-AVG aggregate over the 3-way
    left-join chain (Frontend.py:60-69)."""
    index = _AVERAGES(company_info, financial_statements, ratios)
    return point_lookup(index, ticker).drop("ticker")


def industry_price_series(
    company_info: DataFrame, stock_price: DataFrame, ticker: str
) -> DataFrame:
    """Industry monthly average closing price, chronologically ordered by
    the 'YYYY-MM' string key (Frontend.py:71-79 + the display format at
    Frontend.py:81-82)."""
    index = _MONTHLY(company_info, stock_price)
    return _sorted_by_month(point_lookup(index, ticker).drop("ticker"))


def company_price_series(stock_price: DataFrame, ticker: str) -> DataFrame:
    """Company monthly price series (Frontend.py:51-58)."""
    return _sorted_by_month(point_lookup(stock_price, ticker)).withColumn(
        "month_display", month_display(F.col("month"))
    )


def comparison_table(
    company_info: DataFrame,
    financial_statements: DataFrame,
    ratios: DataFrame,
    ticker: str,
) -> DataFrame:
    """Company-vs-industry-average long table (Frontend.py:84-97): one
    (label, metric, value) row per metric for the company and for its
    industry average, the long form the reference's transposed frames
    feed to the bar charts."""
    index = _COMPARISON(company_info, financial_statements, ratios)
    return point_lookup(index, ticker).drop("ticker")

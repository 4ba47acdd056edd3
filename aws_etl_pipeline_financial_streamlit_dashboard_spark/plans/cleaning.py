"""The reference's transform stage (cleaning.py) as one lazy Spark plan
per output table (SURVEY.md §3 entry point 2).

The reference runs eager pandas — every statement materializes. Here
each serving table is a lazy DataFrame DAG: Catalyst fuses the
projection → cast → derive → join chains into minimal stages and prunes
raw columns at the parquet scan (the raw `info` table is ~80% unused,
README.md:37).

Each output is written by its own action, and separate actions share
nothing: a frame two outputs read would be computed once per write.
:func:`run_transform` therefore materializes every frame that more than
one output reads exactly once, as a lazy ``localCheckpoint``. That is
the raw ``info`` extract (company_info and ratios) and the
latest-quarter financial statements (written, and joined into ratios).
The checkpoint cuts their lineage on purpose: recomputing an external
extract would fetch a second, possibly different snapshot, so
company_info and ratios could describe two fetches. Like the
reference's single retrieval.py landing, one refresh reads one snapshot.

Semantics reproduced, with citations:
- fixed-schema projection + rename per table  (cleaning.py:21-28,
  33-40, 45-55, 66-77)
- measure casts to double                     (cleaning.py:30,42,58,80)
- current_ratio = assets/liabilities          (cleaning.py:59)
- latest-quarter argmax by string month       (cleaning.py:62-63)
- market_cap = shares × latest close          (cleaning.py:82)
- ev_to_ebitda = (mcap+debt−cash)/ebitda      (cleaning.py:87)
- enrichment joins J2-J4                      (cleaning.py:85-88)

Pinned deviation (SURVEY.md §7): division by zero yields NULL
(Spark/SQL semantics), not pandas ±inf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.functions.scalars import safe_div
from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.core import (
    argmax_latest,
    cast_columns,
    select_rename,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.schemas import (
    COMPANY_INFO_MAPPING,
    FINANCIAL_STATEMENTS_MAPPING,
    RATIOS_MAPPING,
    STOCK_PRICE_MAPPING,
    normalize_columns,
)


def build_company_info(info_raw: DataFrame) -> DataFrame:
    """company_info serving table (cleaning.py:21-30)."""
    df = select_rename(normalize_columns(info_raw), COMPANY_INFO_MAPPING)
    return cast_columns(df, ["full_time_employees"])


def build_stock_price(stock_raw: DataFrame) -> DataFrame:
    """stock_price serving table (cleaning.py:33-42). ``month`` stays a
    'YYYY-MM' string — the lexical==chronological sort contract."""
    df = select_rename(normalize_columns(stock_raw), STOCK_PRICE_MAPPING)
    return cast_columns(
        df, ["opening_price", "closing_price", "month_high", "month_low"]
    )


def build_financial_statements(fin_raw: DataFrame) -> DataFrame:
    """financial_statements serving table (cleaning.py:45-63): project,
    cast, derive current_ratio, reduce to the latest quarter per ticker.

    The reference's groupby-max + inner self-join keeps tied rows; the
    idiomatic single-shuffle window (operators.core.argmax_latest,
    keep_ties=True) reproduces that, then ``month`` is dropped
    (cleaning.py:63)."""
    df = select_rename(normalize_columns(fin_raw), FINANCIAL_STATEMENTS_MAPPING)
    df = cast_columns(
        df,
        [
            "cash_and_cash_equivalents",
            "ebitda",
            "net_income",
            "net_debt",
            "total_debt",
            "current_assets",
            "current_liabilities",
        ],
    )
    df = df.withColumn(
        "current_ratio",
        safe_div(F.col("current_assets"), F.col("current_liabilities")),
    )
    return argmax_latest(df, "ticker", "month", keep_ties=True).drop("month")


def build_ratios(info_raw: DataFrame, financial_statements: DataFrame) -> DataFrame:
    """ratios serving table (cleaning.py:66-88): project/cast the ratio
    columns from the raw info snapshot, derive market_cap, then enrich
    with current_ratio and ev_to_ebitda computed off the latest-quarter
    financials (joins J2-J4).

    Join shape: ratios and financials are both one-row-per-ticker —
    an equi-join on ticker; the small side broadcasts automatically.
    The final join is LEFT (cleaning.py:88): tickers with no financial
    statement keep null ratio columns."""
    df = select_rename(normalize_columns(info_raw), RATIOS_MAPPING)
    df = cast_columns(df, [c for c in df.columns if c != "ticker"])
    df = df.withColumn(
        "market_cap", F.col("outstanding_shares") * F.col("latest_closing_price")
    )
    # temp = fin[[ticker, total_debt, cash, ebitda, current_ratio]]
    #        ⋈ ratios[[ticker, market_cap]]          (cleaning.py:85-86)
    temp = financial_statements.select(
        "ticker",
        "total_debt",
        "cash_and_cash_equivalents",
        "ebitda",
        "current_ratio",
    ).join(df.select("ticker", "market_cap"), "ticker", "inner")
    # ev_to_ebitda = (mcap + debt − cash) / ebitda   (cleaning.py:87)
    temp = temp.withColumn(
        "ev_to_ebitda",
        safe_div(
            F.col("market_cap")
            + F.col("total_debt")
            - F.col("cash_and_cash_equivalents"),
            F.col("ebitda"),
        ),
    )
    return df.join(
        temp.select("ticker", "current_ratio", "ev_to_ebitda"), "ticker", "left"
    )


def run_transform(
    info_raw: DataFrame, stock_raw: DataFrame, fin_raw: DataFrame
) -> dict[str, DataFrame]:
    """Full transform stage: raw extracts → the four serving tables
    (cleaning.py end-to-end).

    ``info_raw`` and the latest-quarter financial statements each feed
    two outputs, so both are snapshotted with ``localCheckpoint(eager=
    False)``: the first write that reads one materializes it and the
    other reuses the blocks, so each refresh fetches ``info`` and runs
    the latest-quarter window once. The snapshot is kept: changing the
    raw source afterwards does not change the returned tables. Nothing
    else runs here, except the window's shuffle, which adaptive
    planning executes when the snapshot is declared. Spark's context
    cleaner releases the blocks once the returned frames are gone.
    ``stock_raw`` feeds only stock_price and stays lazy."""
    info_raw = info_raw.localCheckpoint(eager=False)
    financial_statements = build_financial_statements(fin_raw).localCheckpoint(eager=False)
    return {
        "company_info": build_company_info(info_raw),
        "stock_price": build_stock_price(stock_raw),
        "financial_statements": financial_statements,
        "ratios": build_ratios(info_raw, financial_statements),
    }

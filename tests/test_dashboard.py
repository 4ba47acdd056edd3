"""Known-answer tests for the dashboard query layer (plans/dashboard.py)
against the reference Frontend.py semantics (SURVEY.md §5.2)."""

from __future__ import annotations

import gc
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import dashboard
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import (
    run_transform,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.dashboard import (
    INDUSTRY_AVG_COLS,
    company_header,
    company_price_series,
    comparison_table,
    industry_averages,
    industry_price_series,
    point_lookup,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources import (
    write_parquet_overwrite,
)
from tests.fixtures import raw_financials, raw_info, raw_stock

SERVING = ("company_info", "stock_price", "financial_statements", "ratios")


@pytest.fixture(scope="module")
def serving(spark):
    return run_transform(raw_info(spark), raw_stock(spark), raw_financials(spark))


def test_point_lookup_case_insensitive(serving):
    rows = point_lookup(serving["company_info"], "aaa").collect()
    assert len(rows) == 1 and rows[0]["ticker"] == "AAA"
    # queried ticker absent everywhere → empty result, no error
    assert point_lookup(serving["company_info"], "ZZZ").count() == 0


def test_company_header_single_row(serving):
    row = company_header(serving["company_info"], "AAA").collect()
    assert len(row) == 1
    assert row[0]["company_nm"] == "Alpha Inc"


def test_industry_averages_null_skipping(serving):
    out = industry_averages(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "aaa",
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row["industry"] == "Tech"
    assert set(INDUSTRY_AVG_COLS) <= set(out[0].asDict())
    # Tech = AAA (1 row) + BBB (2 tied latest-quarter rows, which fan
    # out to 4 via the ratios join — the reference's pandas merges
    # duplicate identically) + DDD (no financials → nulls skipped):
    # AVG(ebitda) over {45, 80, 80, 81, 81}
    assert row["ebitda"] == pytest.approx((45 + 80 + 80 + 81 + 81) / 5)
    # trailing_pe from ratios: {15, 22×4, 9} (DDD has pe 9)
    assert row["trailing_pe"] == pytest.approx((15 + 22 * 4 + 9) / 6)


def test_single_ticker_industry(serving):
    out = industry_averages(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "CCC",
    ).collect()
    assert len(out) == 1
    assert out[0]["ebitda"] == pytest.approx(0.0)  # AVG over one row
    assert out[0]["ev_to_ebitda"] is None  # NULL input → NULL avg


def test_industry_price_series_chronological(serving):
    out = industry_price_series(
        serving["company_info"], serving["stock_price"], "AAA"
    ).collect()
    months = [r["month"] for r in out]
    # DDD (Tech, no stock rows) contributes a NULL-month group through
    # the left join — same as the reference's SQL; NULLS FIRST in Spark
    non_null = [m for m in months if m is not None]
    assert non_null == sorted(non_null)  # string sort == chronological
    # Tech prices = AAA and BBB series (DDD absent from stock_price)
    first = next(r for r in out if r["month"] == "2023-11")
    assert first["avg_closing_price"] == pytest.approx((10.5 + 20.5) / 2)
    assert first["month_display"] == "Nov 2023"


def test_company_price_series_display_format(serving):
    out = company_price_series(serving["stock_price"], "eee").collect()
    assert [r["month_display"] for r in out] == ["Nov 2023", "Feb 2024"]


def test_comparison_table_long_form(serving):
    out = comparison_table(
        serving["company_info"],
        serving["financial_statements"],
        serving["ratios"],
        "AAA",
    )
    rows = out.collect()
    labels = {r["label"] for r in rows}
    assert labels == {"AAA", "Industry Average"}
    # long form: one row per (label, metric)
    metrics = {r["metric"] for r in rows}
    assert set(INDUSTRY_AVG_COLS) <= metrics
    by_key = {(r["label"], r["metric"]): r["value"] for r in rows}
    assert by_key[("AAA", "ebitda")] == pytest.approx(45.0)
    assert by_key[("Industry Average", "ebitda")] == pytest.approx(
        (45 + 80 + 80 + 81 + 81) / 5
    )


# ---------------------------------------------------------------------------
# the per-snapshot industry index behind the page frames
# ---------------------------------------------------------------------------


def _read(spark, root) -> dict:
    """A serving snapshot: the four tables read back from parquet, as
    the dashboard reads them."""
    return {n: spark.read.parquet(os.path.join(root, n)) for n in SERVING}


def _snapshot(spark, tables, root) -> dict:
    for name in SERVING:
        write_parquet_overwrite(tables[name], os.path.join(root, name))
    return _read(spark, root)


def _page(t, ticker) -> dict:
    return {
        "header": company_header(t["company_info"], ticker),
        "company_series": company_price_series(t["stock_price"], ticker),
        "industry_series": industry_price_series(
            t["company_info"], t["stock_price"], ticker
        ),
        "industry_averages": industry_averages(
            t["company_info"], t["financial_statements"], t["ratios"], ticker
        ),
        "comparison": comparison_table(
            t["company_info"], t["financial_statements"], t["ratios"], ticker
        ),
    }


def _industry_close(t, ticker, month):
    rows = industry_price_series(t["company_info"], t["stock_price"], ticker).collect()
    return next(r["avg_closing_price"] for r in rows if r["month"] == month)


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _released(spark, base: set, left: int = 0, timeout_s: float = 60.0) -> set:
    """The persisted RDDs beyond ``base``, polled until at most ``left``
    remain or the timeout passes. Spark's context cleaner unpersists an
    RDD once the JVM has collected it, which needs Python to have
    dropped its handles first; both collections are forced here."""
    deadline = time.monotonic() + timeout_s
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        extra = _persisted(spark) - base
        if len(extra) <= left or time.monotonic() > deadline:
            return extra
        time.sleep(0.2)


def test_comparison_tie_break_is_deterministic(serving):
    """BBB's latest quarter is tied (2 statement rows, 4 after the
    ratios join): the company side shows one of those rows, the same
    one on every build of the index."""

    def company_side(t):
        rows = (
            comparison_table(
                t["company_info"], t["financial_statements"], t["ratios"], "BBB"
            )
            .filter(F.col("label") == "BBB")
            .collect()
        )
        assert len(rows) == len({r["metric"] for r in rows})  # one row per metric
        return {r["metric"]: r["value"] for r in rows}

    first = company_side(serving)
    # new DataFrames → a new index, built over a different physical order
    again = company_side({n: df.repartition(3) for n, df in serving.items()})
    assert first == again
    # every value comes from one of the tied statement rows
    assert (first["cash_and_cash_equivalents"], first["ebitda"]) in {
        (210.0, 80.0), (215.0, 81.0)
    }


def test_page_frames_run_one_job_each(spark, serving, tmp_path):
    t = _snapshot(spark, serving, str(tmp_path))
    for df in _page(t, "AAA").values():  # warm the index
        df.collect()
    sc = spark.sparkContext
    for name, df in _page(t, "BBB").items():
        group = f"dashboard_page_{name}"
        sc.setJobGroup(group, "one job per page frame")
        try:
            df.collect()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert len(jobs) == 1, f"{name} ran {len(jobs)} jobs"


def test_refreshed_snapshot_is_served_and_old_index_released(spark, serving, tmp_path):
    gc.collect()
    base = _persisted(spark)
    root = str(tmp_path)
    old = _snapshot(spark, serving, root)
    assert _industry_close(old, "AAA", "2023-11") == pytest.approx((10.5 + 20.5) / 2)
    old_key = (id(old["company_info"]), id(old["stock_price"]))

    # a refresh rewrites the serving tables in-session; re-reading them
    # is a new snapshot, and the next page shows its industry average
    bumped = serving["stock_price"].withColumn("closing_price", F.col("closing_price") + 100)
    write_parquet_overwrite(bumped, os.path.join(root, "stock_price"))
    new = _read(spark, root)
    assert _industry_close(new, "AAA", "2023-11") == pytest.approx((110.5 + 120.5) / 2)
    assert len(_persisted(spark) - base) == 2  # one index per snapshot

    # dropping a snapshot drops its memo entry; a frame built on its
    # index stays valid until it goes too
    frame = industry_price_series(old["company_info"], old["stock_price"], "AAA")
    del old
    gc.collect()
    assert old_key not in dashboard._MONTHLY._entries
    assert [r["avg_closing_price"] for r in frame.collect() if r["month"] == "2023-11"] == [
        pytest.approx(15.5)
    ]
    del frame
    assert len(_released(spark, base, 1)) == 1
    del new
    assert _released(spark, base) == set()


def test_concurrent_first_pages_build_the_index_once(spark, serving, tmp_path, monkeypatch):
    t = _snapshot(spark, serving, str(tmp_path))  # cold: no index yet
    built = []
    materialize = dashboard._materialize
    monkeypatch.setattr(
        dashboard, "_materialize", lambda df: built.append(df) or materialize(df)
    )
    n = 8  # more clients than cores, switching threads often
    start = threading.Barrier(n, timeout=60)
    pages: list = [None] * n

    def client(i: int) -> None:
        try:
            start.wait()
            pages[i] = {
                k: sorted(map(tuple, df.collect()), key=repr)
                for k, df in _page(t, "AAA").items()
            }
        except Exception as e:  # noqa: BLE001 — surfaced by the asserts
            pages[i] = e

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert all(p == pages[0] for p in pages), pages
    assert len(built) == 3  # the monthly, averages and comparison indexes
    assert (id(t["company_info"]), id(t["stock_price"])) in dashboard._MONTHLY._entries
    comparison = {(r[0], r[1]): r[2] for r in pages[0]["comparison"]}
    assert comparison[("AAA", "ebitda")] == pytest.approx(45.0)
    assert comparison[("Industry Average", "ebitda")] == pytest.approx(
        (45 + 80 + 80 + 81 + 81) / 5
    )
    closes = {r[0]: r[1] for r in pages[0]["industry_series"]}
    assert closes["2023-11"] == pytest.approx((10.5 + 20.5) / 2)


def test_unknown_ticker_page_is_empty(serving):
    page = _page(serving, "ZZZ")
    assert {k: df.count() for k, df in page.items()} == dict.fromkeys(page, 0)


def test_ticker_without_statements_gets_industry_rows_only(serving):
    # DDD is in company_info (Tech) but not in financial_statements
    out = comparison_table(
        serving["company_info"], serving["financial_statements"], serving["ratios"], "DDD"
    ).collect()
    assert out and {r["label"] for r in out} == {"Industry Average"}
    assert industry_price_series(
        serving["company_info"], serving["stock_price"], "DDD"
    ).count() > 0


def test_null_industry_gets_empty_industry_frames(spark):
    info = raw_info(spark)
    info = info.union(spark.createDataFrame(
        [("GGG", "Gee Co", "g.com", None, "gee co", "10", "100", "3.0", "1", "2",
          None, "5", "0.1", "0.01", "0.02", "x", "y")],
        info.schema,
    ))
    fin = raw_financials(spark)
    fin = fin.union(spark.createDataFrame(
        [("2024-03", "GGG", 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 3.0, 1.0)], fin.schema
    ))
    stock = raw_stock(spark)
    stock = stock.union(spark.createDataFrame(
        [("2024-01", "GGG", 3.0, 3.1, 3.2, 2.9, 1e5, 0.0, 0.0)], stock.schema
    ))
    page = _page(run_transform(info, stock, fin), "ggg")
    counts = {k: df.count() for k, df in page.items()}
    assert counts["header"] == 1 and counts["company_series"] == 1
    assert counts["industry_series"] == 0 and counts["industry_averages"] == 0
    assert {r["label"] for r in page["comparison"].collect()} == {"GGG"}

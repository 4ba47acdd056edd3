from __future__ import annotations

import math
import os

import duckdb
import pytest

from aws_etl_pipeline_financial_streamlit_dashboard_spark.session import get_spark
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.datasource import (
    FinancialApiDataSource,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")



ORACLE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def register_fetcher(spark):
    """``register_fetcher(f)`` makes ``financial_api`` extract through
    ``f``; the default source is registered again afterwards, so later
    tests in the shared session see ``fake_fetcher``."""
    yield lambda f: spark.dataSource.register(FinancialApiDataSource.with_fetcher(f))
    spark.dataSource.register(FinancialApiDataSource)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a cell for cross-engine comparison (mirrors the
    driver's order-insensitive value-hash semantics)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v == int(v) and abs(v) < 1e15:
            return float(v)
        return v
    if hasattr(v, "item"):  # numpy scalars
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalized_rows(pdf):
    """Column-name-sorted, row-sorted, value-normalized tuples."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def assert_frames_match(spark_df, duck_rel, name=""):
    """Row-count + column-name + order-insensitive value comparison —
    the local stand-in for the driver's CORRECTNESS gate."""
    spdf = spark_df.toPandas()
    dpdf = duck_rel.fetchdf()
    s_cols, s_rows = normalized_rows(spdf)
    d_cols, d_rows = normalized_rows(dpdf)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[0]}"

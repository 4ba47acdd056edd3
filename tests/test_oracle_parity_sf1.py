"""Oracle parity at sf1 — headline queries + one representative per
operator family (VERDICT r5 item 7).

sf1 is the self-generated 10× replica of the driver's sf0.1 data
(``tools/gen_sf.py``: key-shifted replicas, identical schema and join
selectivity). Re-checking here stresses the same cross-engine
determinism arguments as test_oracle_parity_sf01 at another order of
magnitude — int64 headroom, fixed-point quantization, banded-join
completeness — on ~6 M lineitem rows.

Opt-in slow test: skipped unless the sf1 directory exists (generate
with ``python tools/gen_sf.py``). Not part of the per-commit gate;
record the result in CHANGES.md when a change runs it.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES
from tests.conftest import ORACLE_TABLES, assert_frames_match

SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata", "sf1"),
)

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        not os.path.isdir(SF1_DIR),
        reason=f"{SF1_DIR} not generated (python tools/gen_sf.py)",
    ),
]

# The five headline entries plus one representative per family:
# dedup (exact hash), text ladder (token stats), similarity (brute
# cosine), sampling (hash split), window moments (bollinger), interval
# join (FIFO lots), crawl chain (canonicalize), LLM mix (token budget).
REPRESENTATIVES = [
    "q07_flagship_industry_avg",
    "q08_monthly_avg_series",
    "q16_star_join_revenue",
    "q17_pricing_summary",
    "q34_star_join_bucketed",
    "x01_dedup_exact",
    "x05_token_stats",
    "x09_cosine_topk",
    "x31_hash_split",
    "q60_bollinger_bands",
    "q69_fifo_lot_matching",
    "x65_url_canonicalize",
    "x73_token_budget_mix",
]


@pytest.fixture(scope="module")
def duck1():
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(SF1_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_oracle_parity_at_sf1(spark, duck1, name):
    spec = QUERIES[name]
    assert spec.oracle is not None, f"{name} must be oracle-backed"
    sdf = spec.spark(spark, SF1_DIR)
    rel = duck1.sql(spec.oracle)
    assert_frames_match(sdf, rel, f"{name}@sf1")

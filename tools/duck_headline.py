#!/usr/bin/env python
"""DuckDB side of the headline bench: run each headline entry's oracle
SQL over the same parquet directory, same steady-state protocol as
bench.py (2 warm-up passes, then min of N timed passes —
``$SPARK_GRAFT_BENCH_REPS``, default 5 — fresh
``con.execute(...).fetchall()`` per pass), threads matched to the Spark
session's core count. Prints one JSON line mirroring bench.py's shape
(including the median + [min,max] band fields over per-pass paired
sums) so the two artifacts diff cleanly and ratios can be taken on
distributions, not single windows.

Usage: SPARK_GRAFT_SF_DIR=... python tools/duck_headline.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb  # noqa: E402

# plans.catalog registers every entry; the registry reads them back
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import catalog  # noqa: E402,F401
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.registry import (  # noqa: E402
    headline_queries,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.schemas import (  # noqa: E402
    TESTDATA_TABLES,
)


def main() -> None:
    # self-healing contention retry, mirroring bench.py (round 13): a
    # contended window re-runs once (bounded) and the cleanest window
    # publishes as primary with discarded windows kept in the artifact
    retries = int(os.environ.get("SPARK_GRAFT_BENCH_CONTENTION_RETRIES", "1"))
    attempts = [_run_window()]
    while (
        bool(attempts[-1].get("cpu", {}).get("contended"))
        and len(attempts) <= retries
    ):
        print(
            f"duck_headline: window {len(attempts)} contended "
            f"(foreign_cores_avg="
            f"{attempts[-1]['cpu'].get('foreign_cores_avg')}) — retrying",
            file=sys.stderr,
        )
        attempts.append(_run_window())
    out = min(
        attempts,
        key=lambda a: (
            bool(a.get("cpu", {}).get("contended")),
            a.get("cpu", {}).get("foreign_cores_avg") or 0.0,
        ),
    )
    if len(attempts) > 1:
        out["contention_retry"] = {
            "n_windows": len(attempts),
            "primary_window_index": attempts.index(out),
            "discarded_windows": [a for a in attempts if a is not out],
        }
    print(json.dumps(out))


def _run_window() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={int(cpus)}")
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    # same CPU-contention telemetry as bench.py (VERDICT r11 item 2):
    # the paired-window protocol reads Spark-vs-DuckDB in ONE window,
    # so the DuckDB side self-documents contention the same way
    from bench import _cpu_state, _cpu_window

    cpu_start = _cpu_state()
    cpu_wall0 = time.perf_counter()

    reps = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    names = sorted(headline_queries())
    specs = headline_queries()
    for name in names:
        sql = specs[name].oracle
        for _ in range(2):
            con.execute(sql).fetchall()
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        passes[name] = runs
        timings[name] = round(min(runs), 4)

    def _dist(rep_sums: list[float]) -> tuple[float, list[float]]:
        return (
            round(statistics.median(rep_sums), 4),
            [round(min(rep_sums), 4), round(max(rep_sums), 4)],
        )

    seq_sums = [sum(passes[n][r] for n in names) for r in range(reps)]
    # serving-layout comparable subset: Spark's serving set {q73, q08,
    # q34, q17} maps to the oracles of {q07, q08, q34, q17} (q73 shares
    # q07's oracle) = headline total minus q16
    srv_names = [n for n in names if n != "q16_star_join_revenue"]
    srv_sums = [sum(passes[n][r] for n in srv_names) for r in range(reps)]

    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or sf_dir
    try:
        sf_value: float | str = float(sf_label)
    except ValueError:
        sf_value = sf_label
    out = {
        "metric": "duckdb_headline_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_value,
        "threads": int(cpus),
        "reps": reps,
    }
    out["headline_total_median_sec"], out["headline_total_band_sec"] = _dist(seq_sums)
    out["serving_headline_total_sec"] = round(
        sum(timings[n] for n in srv_names), 4
    )
    (
        out["serving_headline_median_sec"],
        out["serving_headline_band_sec"],
    ) = _dist(srv_sums)
    out["cpu"] = _cpu_window(
        cpu_start, _cpu_state(), time.perf_counter() - cpu_wall0
    )
    return out


if __name__ == "__main__":
    main()

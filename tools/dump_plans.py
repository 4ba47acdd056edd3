#!/usr/bin/env python
"""Dump ``explain("formatted")`` for catalog entries to files.

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX name1,name2,...

Writes OUTDIR/<name>_<SUFFIX>.txt per entry (the round-14 dumps are
at ``git show 130db1f:plans/r14/``, <query>_before.txt / _after.txt).
Plans are built against $SPARK_GRAFT_SF_DIR (default sf0.1) on the
bench session configuration (same shuffle sizing / AQE gate as
bench.py) so the captured plan is the one the bench times.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _AQE_MIN_BYTES, _input_bytes, _shuffle_partitions  # noqa: E402
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import (  # noqa: E402
    QUERIES,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.session import get_spark  # noqa: E402


def main() -> int:
    outdir, suffix, names_arg = sys.argv[1], sys.argv[2], sys.argv[3]
    names = [n for n in names_arg.split(",") if n]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    total_bytes = _input_bytes(sf_dir)
    spark = get_spark(
        app_name="dump_plans",
        master=f"local[{cpus}]",
        shuffle_partitions=_shuffle_partitions(total_bytes, int(cpus)),
        extra_conf=(
            {"spark.sql.adaptive.enabled": "false"}
            if 0 <= total_bytes < _AQE_MIN_BYTES
            else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} ({suffix}) sf_dir={sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

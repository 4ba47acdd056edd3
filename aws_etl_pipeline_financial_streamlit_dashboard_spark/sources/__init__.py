"""Readers, sinks and the ``financial_api`` extract source."""

# perfbench/workloads.py imports these two names from the package.
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_parquet_overwrite,
)

__all__ = ["read_table", "write_parquet_overwrite"]

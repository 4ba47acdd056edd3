from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.bucketing import (
    drop_table,
    write_bucketed,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.maintenance import (
    cluster_by_range,
    compact_parquet,
    plan_compaction,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import (
    read_csv_seed,
    read_table,
)
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    upsert_partitions,
    write_jdbc_overwrite,
    write_marker,
    write_parquet_overwrite,
)

__all__ = [
    "cluster_by_range",
    "compact_parquet",
    "drop_table",
    "plan_compaction",
    "read_csv_seed",
    "read_table",
    "upsert_partitions",
    "write_bucketed",
    "write_jdbc_overwrite",
    "write_marker",
    "write_parquet_overwrite",
]

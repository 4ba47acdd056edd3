"""Driver heap sizing: the local-mode default follows host RAM."""

from __future__ import annotations

from aws_etl_pipeline_financial_streamlit_dashboard_spark.session import (
    MAX_DRIVER_MEMORY_GIB,
    default_driver_memory,
)

GIB = 2**30


def test_default_fits_a_small_host():
    # a 15 GiB host must not get a heap larger than half its RAM
    assert default_driver_memory(15 * GIB) == "7g"


def test_default_is_bounded():
    assert default_driver_memory(512 * 2**20) == "1g"
    assert default_driver_memory(128 * GIB) == f"{MAX_DRIVER_MEMORY_GIB}g"

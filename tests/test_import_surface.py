"""Each import path loads only what it runs.

Every check runs in a fresh interpreter (``subprocess``), because the
test session itself has long since imported the whole package.

- The product surface that perfbench drives (dashboard, transform,
  extract source, dedup jobs, ``sources``) and ``bench``'s CPU helpers
  load no query catalog, no catalog-only operator or stream, and no
  pandas: no subpackage ``__init__`` re-exports anything.
- Every ``plans/catalog_*`` module imports standalone; importing it
  before ``plans.catalog`` still yields the driver's full set of entries
  with the same oracles.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "aws_etl_pipeline_financial_streamlit_dashboard_spark"
CATALOG_MODULES = sorted(p.stem for p in (REPO / PKG / "plans").glob("catalog_*.py"))


def _run(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


def test_product_imports_load_no_catalog_and_no_pandas():
    loaded = json.loads(
        _run(
            f"""
import json, sys
sys.path.insert(0, "perfbench")
import {PKG}.plans.dashboard, {PKG}.plans.cleaning
import {PKG}.sources.datasource, {PKG}.streaming.jobs
from {PKG}.sources import read_table, write_parquet_overwrite
from bench import _cpu_state, _cpu_window
print(json.dumps(sorted(sys.modules)))
"""
        )
    )
    plans = [m for m in loaded if m.startswith(f"{PKG}.plans.")]
    assert not [m for m in plans if m.split(".")[-1].startswith(("catalog", "registry"))]
    operators = [m for m in loaded if m.startswith(f"{PKG}.operators.")]
    assert operators == [f"{PKG}.operators.core"]
    assert f"{PKG}.streaming.stateful" not in loaded
    assert "pandas" not in loaded


_ENTRIES = f"""
import json
from {PKG}.plans.catalog import QUERIES
print(json.dumps({{n: s.oracle for n, s in QUERIES.items()}}))
"""


@pytest.fixture(scope="module")
def driver_entries():
    """Entry name -> oracle as the driver sees them."""
    return json.loads(
        _run(
            """
import json
import __spark_entry__ as E
qs, osql = E.queries(), E.oracle_sql()
print(json.dumps({n: osql.get(n) for n in qs}))
"""
        )
    )


@pytest.mark.parametrize("module", CATALOG_MODULES)
def test_catalog_module_imports_standalone(module, driver_entries):
    entries = json.loads(_run(f"import {PKG}.plans.{module}\n" + _ENTRIES))
    assert entries == driver_entries

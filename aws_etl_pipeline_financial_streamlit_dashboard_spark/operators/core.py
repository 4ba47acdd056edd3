"""Core relational operators (SURVEY.md §2.2-2.9) as composable
DataFrame functions.

Each function is a pure DataFrame→DataFrame transform: lazy, so chains
fuse into one Catalyst plan (the reference materialized every pandas
intermediate eagerly, SURVEY.md §3 entry point 2).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Fixed-schema projection: select source columns and rename to the
    serving contract (P1; cleaning.py:29,41,57,79 equivalent).

    Pure projection — Catalyst prunes every unselected column down to the
    parquet scan, so ~80% of raw fields never leave storage
    (README.md:37's "15-20% utilization" becomes an actual I/O saving).
    """
    return df.select([F.col(src).alias(dst) for src, dst in mapping.items()])


def cast_columns(df: DataFrame, cols: Sequence[str], dtype: str = "double") -> DataFrame:
    """Measure-column cast (F6/F7; cleaning.py:30,42,58,80 equivalent)."""
    return df.withColumns({c: F.col(c).cast(dtype) for c in cols})


def argmax_latest(
    df: DataFrame,
    partition_key: str | Sequence[str],
    order_key: str,
    keep_ties: bool = True,
) -> DataFrame:
    """Latest-row-per-group argmax (A1+J1; cleaning.py:62-63 equivalent).

    The reference does groupby-max + inner self-join, which keeps tied
    rows. ``keep_ties=True`` reproduces that exactly with a single
    ``rank()`` window — one shuffle on the partition key instead of the
    reference's agg + join (two passes). ``keep_ties=False`` gives the
    stricter one-row-per-group contract via ``row_number()``.

    At scale this is the canonical pattern: one hash-partition by key,
    per-partition sort, no join. AQE handles skewed keys.
    """
    keys = [partition_key] if isinstance(partition_key, str) else list(partition_key)
    w = Window.partitionBy(*keys).orderBy(F.col(order_key).desc())
    rank_fn = F.rank() if keep_ties else F.row_number()
    return (
        df.withColumn("__rk", rank_fn.over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def union_align(left: DataFrame, right: DataFrame) -> DataFrame:
    """Union-all with by-name column alignment, missing columns null-filled
    (U2; Frontend.py:86 ``pd.concat`` equivalent).

    Must be ``unionByName(allowMissingColumns=True)`` — positional
    ``union`` would silently bind mismatched columns (SURVEY.md §7).
    """
    return left.unionByName(right, allowMissingColumns=True)


def unpivot_metrics(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "metric",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long unpivot (R2; Frontend.py:96-97 transpose equivalent).

    Spark has no row index, so pandas ``.T`` becomes a relational
    unpivot: each metric column becomes a (metric, value) row. Narrow
    transform, no shuffle.
    """
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)

"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.11 extension surface — the reference has no stateful
processing at all; its 'live' path is scheduled batch).

Why ``applyInPandasWithState`` and not a windowed agg: built-in windows
express *time-bucketed* state only. The operators here keep *arbitrary
per-key state* across micro-batches — running totals that never reset,
and gap-based sessionization with explicit timeout finalization — the
shapes a training-data ingest pipeline needs (per-source byte budgets,
per-user activity sessions) that ``groupBy(window(...))`` cannot say.

Scale properties: state is partitioned by the grouping key across
executors (same hash shuffle as a streaming agg), each key's state is
O(1) floats here, and eviction is explicit via GroupStateTimeout —
state size is bounded by live keys, not stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.isolation import (
    stream_session,
)

RUNNING_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_RUNNING_STATE_SCHEMA = "n bigint, cents bigint"

SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, closed boolean"
)
_SESSION_STATE_SCHEMA = "start long, end long, n bigint"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime event count + value sum, updated every
    micro-batch. State: two numbers per user, forever (no timeout —
    a lifetime aggregate by definition; cap key cardinality upstream).

    The sum is accumulated as exact integer cents (event values are
    2-decimal money): float accumulation across micro-batches would be
    order-dependent and drift from any exact oracle.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                (pdf["value"].fillna(0.0) * 100).round().astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        RUNNING_TOTALS_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


RUNNING_TOTALS_TTL_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, evicted boolean"
)


def running_user_totals_ttl(events: DataFrame, ttl_ms: int) -> DataFrame:
    """TTL-bounded variant of :func:`running_user_totals`: a user's
    state is evicted after ``ttl_ms`` of processing-time inactivity,
    emitting a final row flagged ``evicted=true``.

    :func:`running_user_totals` keeps state forever by contract (a
    lifetime aggregate); under unbounded key cardinality — the normal
    case for a 100 TB ingest keyed by user/document — that is a state
    store that only grows. This variant bounds the store to keys active
    within the TTL window: the idle key's final total is flushed
    downstream (where a compacted table can absorb it) and its state
    freed. A key that reappears after eviction starts a fresh total —
    downstream merges on user_id, the same contract as log-compaction.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                    "evicted": [True],
                }
            )
            return

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                (pdf["value"].fillna(0.0) * 100).round().astype("int64").sum()
            )
        state.update((n, cents))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "evicted": [False],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        RUNNING_TOTALS_TTL_SCHEMA,
        _RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_users(events: DataFrame, gap_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Gap-based sessionization with explicit state finalization: a
    user's session closes when no event arrives within ``gap_ms`` of
    processing time (ProcessingTimeTimeout), at which point the closed
    session is emitted and its state evicted.

    Unlike ``session_window`` aggregation (s03), this emits *open*
    sessions too (closed=false) so downstream consumers see in-flight
    activity — the custom-semantics case that justifies a stateful UDF.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "closed": [True],
                }
            )
            return

        start, end, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
            lo, hi = min(ts_us), max(ts_us)
            start = lo if start is None else min(start, lo)
            end = hi if end is None else max(end, hi)
            n += len(pdf)
        state.update((start, end, n))
        state.setTimeoutDuration(gap_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "closed": [False],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_SCHEMA,
        _SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_running_totals_available_now(spark, events_parquet: str) -> DataFrame:
    """Execute :func:`running_user_totals` as a real streaming query —
    file source → stateful operator → memory sink, drained with
    ``Trigger.AvailableNow`` — and return the final per-user rows as a
    batch DataFrame.

    ``applyInPandasWithState`` is streaming-only by design (state has
    no meaning in a one-shot batch); this is the batch-context adapter
    the query catalog uses. The source is the single events parquet
    file, so the drain is one micro-batch and each user emits exactly
    one final row.
    """
    spark = stream_session(spark)
    import os
    import tempfile
    import uuid

    # prune to the two needed columns at the source: avoids the
    # TIMESTAMP(NANOS) ts column entirely and cuts scan bytes
    src_schema = "event_id bigint, user_id bigint, value double"
    if os.path.isfile(events_parquet):
        # FileStreamSource requires a directory/glob basePath; a glob
        # that matches exactly this file keeps the dir as basePath
        root, leaf = os.path.split(events_parquet)
        events_parquet = os.path.join(root, f"[{leaf[0]}]{leaf[1:]}")
    stream = (
        spark.readStream.schema(src_schema)
        .format("parquet")
        .load(events_parquet)
        .select("user_id", "value")
    )
    totals = running_user_totals(stream)

    name = f"running_totals_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    (
        totals.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(name)

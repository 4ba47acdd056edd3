"""Structured Streaming jobs (SURVEY.md §2.11 extension surface).

The reference's 'live' pipeline is EventBridge-scheduled batch with S3
marker files as inter-stage triggers (retrieval.py:156-160,
README.md:20). The Spark-native equivalents:

- a file-source stream with ``Trigger.AvailableNow`` replaces the
  marker-triggered Lambda chain: each run drains whatever new files
  landed, exactly once, then stops — the same incremental batch
  contract, but with offsets/dedup handled by the engine;
- watermarked windowed aggregations handle late events explicitly
  (the reference has no late-data story).

The aggregation *expressions* live in plans/catalog_streaming.py and
are shared verbatim between batch and streaming execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_pipeline_financial_streamlit_dashboard_spark.streaming.isolation import (
    stream_session,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events_from_files(spark: SparkSession, path: str) -> DataFrame:
    """Incremental file-source stream over a parquet directory (the
    marker-file orchestration replacement). Schema is pinned — required
    for streaming sources and for scan pruning."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def tumbling_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event type.

    The watermark bounds state: windows older than max(ts) − watermark
    are finalized and evicted, so state size is O(active windows), not
    O(stream length) — the property that lets this run forever at
    scale. Late events within the watermark still merge into their
    window; older ones drop (documented, deliberate).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now_to_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
) -> None:
    """Drain-all-new-files-then-stop micro-batch run: the Spark-native
    form of the reference's marker-triggered incremental refresh.
    Append mode + watermark = finalized windows only reach the sink."""
    spark = stream_session(spark)
    events = stream_events_from_files(spark, src_path)
    agg = tumbling_counts_stream(events)
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def dedup_events_stream(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication on event_id within the watermark
    horizon (``dropDuplicatesWithinWatermark``): re-delivered events —
    at-least-once sources redeliver on every retry/failover — are
    dropped if their duplicate arrives within the watermark window.

    State contract at scale: the engine keeps one entry per key seen in
    the last ``watermark`` of event time and evicts older state, so
    memory is O(keys/horizon), not O(stream length) — the property that
    distinguishes this from a batch ``dropDuplicates``, whose state
    would grow forever on an unbounded stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_dedup_to_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    watermark: str = "2 hours",
) -> None:
    """Incremental exactly-once ingest: file stream → watermarked dedup
    → parquet. Re-running after new (possibly overlapping) files land
    appends only never-seen events."""
    spark = stream_session(spark)
    events = stream_events_from_files(spark, src_path)
    (
        dedup_events_stream(events, watermark)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", dst_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_dedup_available_now(
    spark: SparkSession, events_parquet: str, n_copies: int = 2
) -> DataFrame:
    """Execute the watermarked streaming dedup against an at-least-once
    delivery simulation and return the deduplicated rows as a batch
    DataFrame.

    The single events file is materialized ``n_copies`` times into a
    temp source directory (exactly what an at-least-once upstream does:
    every retry redelivers the batch); the stream dedups on event_id
    within the watermark and the memory sink drains under
    ``Trigger.AvailableNow``. Result contract: identical to DISTINCT
    over one copy — which is what the batch oracle checks.
    """
    spark = stream_session(spark)
    import os
    import tempfile
    import uuid

    src_dir = tempfile.mkdtemp(prefix="dedup_src_")
    batch = spark.read.parquet(events_parquet)
    if "ts" in batch.columns and dict(batch.dtypes)["ts"] == "bigint":
        # driver testdata stores TIMESTAMP(NANOS) → read as long under
        # nanosAsLong; convert so the stream has a real event-time col
        batch = batch.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif "ts" in batch.columns and dict(batch.dtypes)["ts"] == "timestamp_ntz":
        # naive parquet timestamps read as TIMESTAMP_NTZ, but watermarks
        # are tz-strict (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); reinterpret
        # wall-clock in the session tz (UTC)
        batch = batch.withColumn("ts", F.col("ts").cast("timestamp"))
    for i in range(n_copies):
        batch.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    deduped = dedup_events_stream(stream).select(
        "event_id", "user_id", "event_type", "value"
    )

    name = f"stream_dedup_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(name)


def run_foreach_batch_ingest(
    spark: SparkSession, events_parquet: str, replay_batch: bool = True
) -> DataFrame:
    """Exactly-once custom sink via ``foreachBatch`` with batch-id-keyed
    idempotent writes — the pattern for any sink without native
    streaming support (JDBC, object stores, search indexes).

    Each micro-batch overwrites its OWN partition directory
    (``batch_id=<n>``): a batch redelivered after a failure rewrites
    the same path instead of appending duplicates, so restarts are
    idempotent without sink-side transactions. To prove it, the first
    batch's write is (optionally) executed twice — the read-back must
    still equal one clean copy of the source.

    At scale each batch write is a distributed parquet job (the
    DataFrame passed to the callback is a normal batch frame); the
    batch-id directory layout also gives consumers snapshot isolation
    per batch.
    """
    import os
    import tempfile

    dst = tempfile.mkdtemp(prefix="fbatch_dst_")
    ckpt = tempfile.mkdtemp(prefix="fbatch_ckpt_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        path = os.path.join(dst, f"batch_id={batch_id}")
        batch_df.write.mode("overwrite").parquet(path)
        if replay_batch and batch_id == 0:
            # simulate the retry an at-least-once driver performs after
            # a sink failure: same batch, same id, same path — the
            # overwrite makes it a no-op instead of a duplication
            batch_df.write.mode("overwrite").parquet(path)

    batch = spark.read.parquet(events_parquet)
    if "ts" in batch.columns and dict(batch.dtypes)["ts"] == "bigint":
        batch = batch.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    src_dir = tempfile.mkdtemp(prefix="fbatch_src_")
    batch.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(ckpt, "state"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(os.path.join(dst, "batch_id=*"))


def run_foreach_batch_upsert(
    spark: SparkSession,
    seed_df: DataFrame,
    stream_rows_df: DataFrame,
    prefix: str = "upsert",
) -> DataFrame:
    """Streaming keyed upsert (SCD1 MERGE) via ``foreachBatch``: each
    micro-batch merges into a persistent target by last-write-wins on
    (us, event_id) per user_id — the pattern for maintaining a serving
    table from a change stream when the sink has no native MERGE
    (plain parquet, JDBC without upsert, search indexes).

    The target is a chain of VERSIONED snapshot directories
    (``target_v{n}``): each batch reads the latest snapshot, merges,
    and writes the next — never overwriting the directory it is
    reading (lazy scan + in-place overwrite corrupts), and leaving
    each batch's result as an immutable snapshot (consumers get
    snapshot isolation per batch; a redelivered batch rewrites its own
    version id idempotently). The merge itself is one argmax-struct
    hash aggregate — partial-aggregating, shuffle carries one struct
    per key per partition. At scale the snapshot chain is what Delta's
    transaction log systematizes; the operator semantics are
    identical.
    """
    import atexit
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=f"{prefix}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    def keyed(df: DataFrame) -> DataFrame:
        # last-write-wins reduction to one row per key: argmax over the
        # (us, event_id) total order via struct comparison — associative,
        # so target_vN = keyed(seed ∪ batches 0..N-1) at every version
        return (
            df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("us", "event_id", "event_type", "value")
                ).alias("__m")
            )
            .select(
                "user_id",
                F.col("__m.us").alias("us"),
                F.col("__m.event_id").alias("event_id"),
                F.col("__m.event_type").alias("event_type"),
                F.col("__m.value").alias("value"),
            )
        )

    # the target invariant (one row per key) holds from v0 on — a
    # zero-batch stream still yields a valid keyed serving table
    keyed(seed_df).write.mode("overwrite").parquet(
        os.path.join(root, "target_v0")
    )
    src_dir = os.path.join(root, "src")
    stream_rows_df.coalesce(1).write.mode("append").parquet(src_dir)

    state = {"v": 0}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # version ids are keyed on the engine's batch_id, not a local
        # counter: batch N always reads target_v{N} and writes
        # target_v{N+1}, so a batch REDELIVERED after a failure re-reads
        # the same input snapshot and rewrites the same output version —
        # idempotent even across a driver restart that would reset any
        # driver-local state (micro-batch ids are sequential per
        # checkpoint, so the chain has no holes)
        cur = spark.read.parquet(os.path.join(root, f"target_v{batch_id}"))
        merged = keyed(cur.unionByName(batch_df))
        merged.write.mode("overwrite").parquet(
            os.path.join(root, f"target_v{batch_id + 1}")
        )
        state["v"] = max(state["v"], batch_id + 1)

    stream = spark.readStream.schema(stream_rows_df.schema).parquet(src_dir)
    ckpt = os.path.join(root, "ckpt")
    (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(os.path.join(root, f"target_v{state['v']}"))


# ---------------------------------------------------------------------------
# s17 — exactly-once JDBC sink (VERDICT r5 item 6)
# ---------------------------------------------------------------------------


def _checked_ident(name: str) -> str:
    """SQL-identifier discipline for the raw JDBC statements below: the
    table names are interpolated into SQL text, so they must be plain
    unquoted identifiers — assert it rather than assume it. We validate
    instead of double-quoting because the tables are CREATED unquoted
    (by Spark's JDBC writer / ensure_jdbc_ledger) and therefore
    case-folded by the database (Derby folds to upper); a quoted
    lowercase name would reference a DIFFERENT table. Optionally
    schema-qualified (one dot)."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", name):
        raise ValueError(f"not a plain SQL identifier: {name!r}")
    return name


def jdbc_exactly_once_commit(
    spark: SparkSession,
    url: str,
    stage_table: str,
    target_table: str,
    ledger_table: str,
    batch_id: int,
) -> bool:
    """Atomically publish a staged micro-batch into a JDBC target,
    exactly once, keyed on the engine's batch_id.

    ONE driver-side JDBC transaction: if ``batch_id`` is absent from
    the ledger, ``INSERT INTO target SELECT * FROM stage`` and record
    the batch_id; both land or neither does (autocommit off, single
    commit). A REDELIVERED batch finds its ledger row and publishes
    nothing — the insert-if-absent idempotence a transactional RDBMS
    gives for free and plain files need s16's snapshot chain for.
    Returns True when this call published, False when the ledger
    already had the batch.

    The heavy lifting (writing the stage table) stays on executors;
    this transaction only moves rows database-side, so the driver
    round-trip is O(1) statements regardless of batch size.
    """
    stage_table = _checked_ident(stage_table)
    target_table = _checked_ident(target_table)
    ledger_table = _checked_ident(ledger_table)
    if not isinstance(batch_id, int) or isinstance(batch_id, bool):
        raise TypeError(f"batch_id must be an int, got {type(batch_id).__name__}")
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        rs = st.executeQuery(
            f"SELECT batch_id FROM {ledger_table} WHERE batch_id = {batch_id}"
        )
        seen = rs.next()
        rs.close()
        if seen:
            conn.rollback()
            return False
        st.executeUpdate(
            f"INSERT INTO {target_table} SELECT * FROM {stage_table}"
        )
        st.executeUpdate(
            f"INSERT INTO {ledger_table} (batch_id) VALUES ({batch_id})"
        )
        conn.commit()
        return True
    finally:
        conn.close()


def ensure_jdbc_ledger(spark: SparkSession, url: str, ledger_table: str) -> None:
    """Create the batch-id ledger table if absent (Derby has no
    CREATE TABLE IF NOT EXISTS; the 'already exists' SQLState X0Y32 is
    the expected idempotent path)."""
    ledger_table = _checked_ident(ledger_table)
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(
                f"CREATE TABLE {ledger_table} "
                "(batch_id BIGINT NOT NULL PRIMARY KEY)"
            )
        except Exception as exc:  # table exists — idempotent re-entry
            if "X0Y32" not in str(exc):
                raise
    finally:
        conn.close()


def run_foreach_batch_jdbc_append(
    spark: SparkSession,
    stream_rows_df: DataFrame,
    url: str,
    driver: str,
    prefix: str = "s17",
    n_batches: int = 3,
) -> DataFrame:
    """Exactly-once streaming append into a JDBC serving store
    (foreachBatch → stage table → ledgered transaction): the
    TableTransform.py:26-29 serving-database path, streaming-fed.

    Per micro-batch: executors OVERWRITE a staging table (idempotent —
    a redelivered batch restages the same rows), then ONE driver
    transaction publishes stage→target iff the batch_id is not in the
    ledger (jdbc_exactly_once_commit). End-to-end exactly-once without
    sink-native MERGE: source offsets are tracked by the checkpoint,
    publication by the ledger, and the two reconcile on batch_id.

    The source is staged as ``n_batches`` files drained with
    maxFilesPerTrigger=1 so the ledger genuinely sequences multiple
    transactions. Returns the target read back THROUGH JDBC (S5), so
    the returned rows prove the round trip, not the intent.
    """
    import atexit
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=f"{prefix}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    props = {"driver": driver}
    stage_t, target_t, ledger_t = (
        f"{prefix}_stage",
        f"{prefix}_target",
        f"{prefix}_ledger",
    )
    # target created empty by the executors' writer (schema authority
    # stays with the DataFrame); ledger via raw DDL
    stream_rows_df.limit(0).write.mode("overwrite").jdbc(
        url, target_t, properties=props
    )
    ensure_jdbc_ledger(spark, url, ledger_t)

    src_dir = os.path.join(root, "src")
    stream_rows_df.repartition(n_batches).write.mode("append").parquet(src_dir)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").jdbc(url, stage_t, properties=props)
        jdbc_exactly_once_commit(
            spark, url, stage_t, target_t, ledger_t, batch_id
        )

    stream = (
        spark.readStream.schema(stream_rows_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    ckpt = os.path.join(root, "ckpt")
    (
        stream.writeStream.foreachBatch(publish)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.jdbc(url, target_t, properties=props)


def run_foreach_batch_neardup(
    spark: SparkSession,
    stream_docs_df: DataFrame,
    corpus_df: DataFrame,
    prefix: str = "neardup",
    n: int = 3,
    threshold: float = 0.2,
    n_stream_files: int = 3,
) -> DataFrame:
    """Streaming NEAR-dup audit of a new-docs stream against the
    STANDING corpus via ``foreachBatch`` — the streaming twin of
    batch x40's near tier, the one asymmetry left in the dedup
    ladder's streaming story after s11 (exact tier) and s28 (Bloom
    words): a continuous-ingestion pipeline must check each arriving
    micro-batch for near-duplicates of the history, not just
    byte-identical ones.

    Each micro-batch runs the BATCH operator
    (:func:`...operators.dedup.incremental_dedup_flags` — distinct-
    text collapse, exact md5 tier, shingle inverted-index near tier)
    against the static corpus frame and writes per-doc flags to a
    BATCH-ID-KEYED parquet directory: a redelivered batch overwrites
    its own directory, so delivery is idempotent (the s16/s17 ledger
    idea with the directory name as the ledger). Stream-static by
    construction — NO streaming state at all: a document's flags
    depend only on its own text and the standing index, so the result
    is independent of how the stream is micro-batched (pinned by
    running ``n_stream_files`` files through maxFilesPerTrigger=1 —
    REAL multi-batch sequencing, same totals as the one-shot batch).

    At 100 TB: the corpus shingle index is the standing distinct-text
    table (bucketed on the shingle key in production); per micro-batch
    cost scales with the increment's true overlap — the corpus never
    self-joins, never re-clusters, and nothing accumulates in the
    stream's state store (contrast s28's complete-mode Bloom words,
    whose state is ≤33 longs; here even that is unnecessary).
    """
    import atexit
    import os
    import shutil
    import tempfile

    from aws_etl_pipeline_financial_streamlit_dashboard_spark.operators.dedup import (
        incremental_dedup_flags,
    )

    root = tempfile.mkdtemp(prefix=f"{prefix}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src_dir = os.path.join(root, "src")
    stream_docs_df.repartition(n_stream_files).write.mode("append").parquet(
        src_dir
    )
    out_root = os.path.join(root, "flags")

    # THE STANDING INDEX, materialized once: dup flags are per-TEXT
    # properties, so the corpus contributes only its distinct texts —
    # checkpoint that reduction before the stream starts instead of
    # re-collapsing the full corpus inside every micro-batch (measured
    # 18.0 → ~8 s at sf10, where 450k corpus rows carry ~4.5k distinct
    # texts). This is what "standing corpus index" means in production:
    # built at ingest time, not per arriving batch.
    corpus_static = (
        corpus_df.select("text").distinct().localCheckpoint(eager=True)
    )

    def flag_batch(batch_df: DataFrame, batch_id: int) -> None:
        flagged = incremental_dedup_flags(
            batch_df,
            corpus_static,
            id_col="doc_id",
            text_col="text",
            n=n,
            threshold=threshold,
        )
        (
            flagged.select("doc_id", "source", "dup_exact", "dup_near")
            .write.mode("overwrite")
            .parquet(os.path.join(out_root, f"batch_{batch_id}"))
        )

    stream = (
        spark.readStream.schema(stream_docs_df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    ckpt = os.path.join(root, "ckpt")
    (
        stream.writeStream.foreachBatch(flag_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # Empty-increment guard (ADVICE r13): zero micro-batches means no
    # batch_* directory exists and the glob read would raise
    # AnalysisException instead of reporting "nothing arrived".
    import glob

    if not glob.glob(os.path.join(out_root, "batch_*")):
        return spark.createDataFrame(
            [],
            "doc_id long, source string, dup_exact boolean, dup_near boolean",
        )
    return spark.read.parquet(os.path.join(out_root, "batch_*"))

"""SparkSession factory with scale-aware defaults.

The reference has no engine of its own (pandas in-process + Postgres,
SURVEY.md §4); here every knob that matters at cluster scale is set
explicitly so the same code runs on local[N] for tests and on a large
cluster unchanged:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- UTC session timezone: deterministic timestamp semantics vs the oracle.
- Arrow on: Pandas-UDF extension operators move data in Arrow batches.
- zstd parquet: the reference chose parquet explicitly for compression
  cost (README.md:20,29); zstd is the modern default at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# local-mode driver heap ceiling: 8g left the sf10 (1.8 GB parquet)
# headline GC-bound — q07 measured 2.4 s at 8g vs ~1.0 s at 24g on a
# 128 GiB host
MAX_DRIVER_MEMORY_GIB = 24


def default_driver_memory(host_bytes: int | None = None) -> str:
    """Driver heap for a host with ``host_bytes`` of RAM (default: this
    host): half of it in whole GiB, at least 1g and at most
    ``MAX_DRIVER_MEMORY_GIB``. The other half stays for the Python
    workers, off-heap buffers and the page cache."""
    if host_bytes is None:
        host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(MAX_DRIVER_MEMORY_GIB, max(1, host_bytes // 2**31))}g"


def get_spark(
    app_name: str = "aws-etl-financial-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores) so the
    driver harness and tests share one code path; on a real cluster the
    master comes from spark-submit and this arg is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the driver testdata's events.ts is TIMESTAMP(NANOS): read as
        # long and convert in sources.readers.read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Size-based and therefore scale-safe: a genuinely big table never
        # broadcasts, but at 64MB the orders-side of mid-size joins does,
        # removing whole shuffle stages (measured ~15% on the sf0.1 bench).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Coalesce to the 64MB advisory target instead of keeping one
        # task per core: fewer tiny reduce tasks at small SF, identical
        # behavior at scale where partitions are full anyway.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Trust sortBy order of bucketed scans (one file per bucket —
        # sources.bucketing.write_bucketed repartitions to guarantee
        # exactly that, and Spark only applies the ordering when every
        # bucket has ≤1 file): the bucketed fact⋈fact SMJ then reads
        # pre-sorted streams instead of re-sorting both sides per query
        # (SPARK-28632 turned this off by default for the multi-file
        # case). Measured 2× on the sf10 bucketed star join.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Reliable checkpoints (operators/lineage.truncate_lineage
        # reliable=True) are NEVER deleted by default — inside an
        # iterative loop (connected components ≤50 rounds, PageRank,
        # BPE) that accumulates up to max_iter full copies of a
        # corpus-scale frame in the durable checkpoint dir, surviving
        # the job. With cleanCheckpoints=true the ContextCleaner
        # deletes a round's files once its RDD is GC'd on the driver —
        # i.e. as soon as the next round's checkpoint materializes and
        # the loop drops the reference (storage footprint bounded at
        # ~2 live rounds; see operators/lineage.py).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # local-mode sizing: in local[N] the driver JVM IS the executor,
        # so this is the whole engine's heap, sized from host RAM unless
        # SPARK_DRIVER_MEMORY says otherwise. On a real cluster
        # spark-submit sizes executors and this only feeds the driver.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

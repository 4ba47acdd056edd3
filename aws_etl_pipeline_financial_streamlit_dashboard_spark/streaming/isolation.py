"""Isolated sessions for stateful streaming queries.

A streaming query binds its STATE partitioning to
``spark.sql.shuffle.partitions`` when its checkpoint is created, and
keeps it for the checkpoint's life (the offset log records it; a resume
reads it back). Every state partition costs real per-micro-batch work:
one task launch plus one state-store instance with its commit files,
four instances per partition for a stream-stream join. The right count
is therefore a create-time decision sized to the cluster, not the
batch-query default the caller's session carries.

:func:`stream_session` makes that decision without touching the
caller: every entry point that starts a stateful query builds its plan
on a fresh ``newSession()`` that inherits the caller's runtime SQL conf
and sets the partition count to the cluster's default parallelism.
Temp views (memory sinks included) register in that session, so results
are read back through it (``df.sparkSession``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def stream_session(spark: SparkSession) -> SparkSession:
    """A new session sharing ``spark``'s context and cached data, with
    every modifiable SQL conf copied from ``spark`` (a bare
    ``newSession()`` would drop runtime settings such as the ones
    ``read_table`` makes) and ``spark.sql.shuffle.partitions`` set to
    ``sparkContext.defaultParallelism``."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return child

"""SparkSession bootstrap with scale-oriented defaults.

Defaults assume the engine may run against ~100 TB on a large cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow transfer for any pandas interchange, and UTC session time so results
are reproducible across driver locales. Local test runs override
``master`` / ``shuffle_partitions``.
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Conservative cluster-ready defaults; any key can be overridden via
#: ``extra_conf``. These are *logical* settings (safe in local mode too) —
#: executor sizing is left to spark-submit / the cluster manager.
DEFAULT_CONF = {
    # Runtime adaptivity: re-plan joins/aggregations from observed stats,
    # coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any driver<->python exchange (collect, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Scans: 128 MiB split targets keep partitions executor-memory-friendly
    # at any input size (Spark default, stated explicitly as a contract).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dimension tables (region/nation/...) stay
    # broadcast even with stats slightly off. AQE also converts at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Nested-schema pruning for struct columns (reads only selected fields).
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Parquet TIMESTAMP(NANOS) columns surface as long (ns since epoch);
    # sources.load_tables converts them to microsecond timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Native TIME type (Spark 4.1, feature-flagged): time-of-day columns
    # (reference Time scalar, scalars.py:76) via make_time/functions.
    # Parquet TIME(MICROS) still scans as int64 — temporal.micros_to_time
    # is the decode step.
    "spark.sql.timeType.enabled": "true",
    # Bounds how long the blocks of an unreachable ``materialize`` cut
    # live: the ContextCleaner drops them only after a driver GC notices
    # the frame is gone, and the 30 min default lets them pile up across
    # the queries of a long-running service.
    "spark.cleaner.periodicGC.interval": "2min",
}


def get_session(
    app_name: str = "graphique-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In local/test mode pass ``master="local[N]"`` and a small
    ``shuffle_partitions``; on a cluster leave ``master`` unset and let
    AQE pick shuffle parallelism.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_session(cpus: int | None = None) -> SparkSession:
    """Session for local testing: ``local[$SPARK_GRAFT_CPUS]``."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_session(master=f"local[{cpus}]", shuffle_partitions=cpus)


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """A small driver-side frame as an Arrow-built ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` plans a ``LogicalRDD`` over a
    pickled Python RDD: every action on it starts a Python worker, and
    Catalyst sees no size for it. Converting the rows to a
    ``pyarrow.Table`` first gives a ``LocalRelation`` with the same schema
    and nullability; actions on it run no Spark job, and the optimizer
    folds projections over it. ``schema`` is a ``StructType`` or a DDL
    string. Values convert by the same rules as ``createDataFrame`` (naive
    timestamps are process-local time). Types Arrow cannot carry, such as
    year-month and calendar intervals, raise ``PySparkTypeError``."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema=schema)


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Cut ``df``'s lineage now: one eager job stores its rows, and the
    returned frame reads them instead of re-running the plan.

    Use it where several actions, or several branches of one plan, consume
    the same costly intermediate, or where partition contents must not
    change between two jobs. The rows go to executor-local blocks
    (``localCheckpoint``), or to reliable storage under ``checkpoint_dir``
    (an HDFS/S3 path on a real cluster, where an executor loss would lose
    local blocks mid-job). Nothing enters the CacheManager: the returned
    frame owns its blocks, and Spark's ContextCleaner drops them once
    nothing references the frame (``spark.cleaner.periodicGC.interval``
    in :data:`DEFAULT_CONF` bounds how long that takes). Files under
    ``checkpoint_dir`` stay unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set."""
    if checkpoint_dir:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd
ship to a 1000-executor cluster (AQE, skew-join handling, Arrow for
the pandas paths, UTC session timezone for oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "vanus_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~1 shuffle partition per core locally; on a real cluster this
        # would be cores*2-3 or left to AQE coalescing.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warning(spark)
    return spark


def rdd_id(checkpointed: DataFrame) -> int:
    """The RDD behind a frame returned by localCheckpoint. Its blocks are
    released by ``SparkContext.unpersistRDD(rdd_id, False)``, as the
    context cleaner does for a garbage-collected RDD (``RDD.unpersist``
    would also log that a local checkpoint cannot be recomputed)."""
    return checkpointed._jdf.queryExecution().logical().rdd().id()


def local_frame(spark: SparkSession, rows: list[dict], schema: str) -> DataFrame:
    """``rows`` under the DDL ``schema`` as a local relation, empty
    included. Built from an Arrow table: a frame from a Python list is
    a parallelized RDD, and every read of it runs Python tasks to
    unpickle its rows (0.3-0.4 s even for none, on 4 local cores)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=arrow_schema))


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" warning.

    Every no-partition window in this repo runs over an audited
    BOUNDED frame (top-k survivors after TakeOrderedAndProject,
    sketch candidate sets capped at capacity*partitions, #slices-row
    prefix aggregates, TPC-H top-k over small aggregates — round-6
    verdict audit), so the per-query warning is pure noise that
    floods the bench stderr tail the driver captures. Corpus-sized
    global windows stay forbidden by design (the two-phase
    distributed rank in bus.py is the scale path); the plan-audit
    tests, not this log line, are the guard. Catalyst constant-folds
    a literal partition key away, so partitionBy(lit(0)) cannot
    suppress it — the logger level is the only lever."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments keep the warning; cosmetic only

"""Parquet table loaders for the test corpus.

The ``events`` table is written with nanosecond timestamps, which the
Spark 4 Parquet reader rejects unless
``spark.sql.legacy.parquet.nanosAsLong`` is set; we read the nanos as
long and truncate to microseconds (the same truncation DuckDB applies
when casting TIMESTAMP_NS to its native microsecond timestamp), so
Spark-vs-DuckDB oracle comparisons line up exactly.

Opening a table infers its schema from the file footer, which is a
one-task Spark job. The inferred schema is remembered per path, keyed by
the file's identity (inode, ``st_mtime_ns``, ``st_ctime_ns``, size) and
the ``nanosAsLong`` setting, so a later open of the same file version
passes it to ``spark.read.schema`` and runs no job; a rewritten file
has another identity and is inferred again, replacing the entry. A
path that is not a local regular file (a directory, a remote URI) is
inferred on every open. The type fix-ups (nanos to micros, NTZ to LTZ)
are one projection built from that schema.

At 100 TB these readers stay scan-friendly: plain ``spark.read
.parquet`` keeps predicate pushdown / column pruning; the ts
conversion is a cheap projected expression, not a UDF.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# path -> (file identity and nanosAsLong, inferred schema); one entry a path
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _file_version(path: str, nanos_as_long: str) -> tuple | None:
    """What the schema inferred from ``path`` depends on, or None when
    ``path`` is not a local regular file."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size, nanos_as_long)


def _read_parquet(
    spark: SparkSession, path: str, nanos_as_long: str
) -> tuple[DataFrame, T.StructType]:
    version = _file_version(path, nanos_as_long)
    known = _SCHEMAS.get(path)
    if version is not None and known is not None and known[0] == version:
        return spark.read.schema(known[1]).parquet(path), known[1]
    df = spark.read.parquet(path)
    schema = df.schema
    if version is not None:
        _SCHEMAS[path] = (version, schema)
    return df, schema


def _projection(col: str, field: T.StructField, nanos_ts: bool) -> str:
    """The SQL projecting ``field`` (quoted as ``col``) to its loaded
    type. With ``nanos_ts`` a bigint ``ts`` holds nanos (read under
    ``nanosAsLong``) and is truncated to micros. TIMESTAMP_NTZ is cast
    to TIMESTAMP (LTZ): Parquet written with isAdjustedToUTC=false
    infers as NTZ under Spark 4, NTZ is rejected by watermarks/windowed
    streaming, and it diverges from DuckDB's naive-timestamp canon only
    in type, not value (session tz is pinned UTC, so the wall-clock is
    preserved)."""
    if nanos_ts and field.name == "ts" and isinstance(field.dataType, T.LongType):
        return f"timestamp_micros(CAST(FLOOR({col} / 1000) AS BIGINT)) AS {col}"
    if isinstance(field.dataType, T.TimestampNTZType):
        return f"CAST({col} AS TIMESTAMP) AS {col}"
    return col


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The caller's session may not be ours (the driver supplies its own):
    # pin UTC so date_format/date_trunc agree with DuckDB's naive
    # timestamps regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = name == "events"
    if events:
        spark.conf.set(_NANOS_AS_LONG, "true")
        nanos_as_long = "true"
    else:
        nanos_as_long = spark.conf.get(_NANOS_AS_LONG, "false")
    df, schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet", nanos_as_long)
    cols = ["`" + f.name.replace("`", "``") + "`" for f in schema.fields]
    exprs = [_projection(c, f, events) for c, f in zip(cols, schema.fields)]
    return df if exprs == cols else df.selectExpr(*exprs)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

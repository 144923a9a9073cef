"""Opening a fixture table and building the CloudEvents envelope.

``load_table`` infers a file's schema on its first open (a one-task
Spark job) and reuses it while the file is unchanged, so a later open
runs no job; a file rewritten at the same path is opened with its new
schema. The type fix-ups and the envelope are one projection each, and
both give the schema and rows of the Column-API formulation they
replaced.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.test_delivery_tick import _Budget
from vanus_spark.model import events_to_cloudevents
from vanus_spark.sources.tables import TABLES, load_table


def _opened(budget, fn):
    """(frame, jobs, py4j trips) of one call."""
    return budget.run(f"open-{uuid.uuid4().hex}", fn)


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _column_api_load(spark, sf_dir: str, name: str):
    """The Column-API table open: a plain inferred read, then the nanos
    conversion and the NTZ casts read off ``df.dtypes``."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz}) if ntz else df


def _column_api_envelope(events, source: str):
    return events.select(
        F.col("event_id").cast("string").alias("id"),
        F.lit(source).alias("source"),
        F.lit("1.0").alias("specversion"),
        F.col("event_type").alias("type"),
        F.col("ts").alias("time"),
        F.lit("application/json").alias("datacontenttype"),
        F.lit(None).cast("string").alias("dataschema"),
        F.lit(None).cast("string").alias("subject"),
        F.create_map(F.lit("partitionkey"), F.col("user_id").cast("string")).alias(
            "attributes"
        ),
        F.to_json(
            F.struct(
                F.col("user_id"),
                F.col("value"),
                F.from_json("props", "k INT").alias("props"),
            )
        ).alias("data"),
    )


def _copy_table(sf_dir: str, dest, name: str) -> str:
    os.makedirs(dest, exist_ok=True)
    shutil.copy(f"{sf_dir}/{name}.parquet", f"{dest}/{name}.parquet")
    return str(dest)


def test_second_open_of_an_unchanged_file_runs_no_job(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "events")
    _copy_table(sf_dir, tmp_path, "documents")
    budget = _Budget(spark)
    try:
        opens = [
            _opened(budget, lambda: load_table(spark, d, name))
            for name in ("events", "documents", "events", "documents")
        ]
    finally:
        budget.close()
    assert [jobs for _, jobs, _ in opens] == [1, 1, 0, 0]
    for (first, _, _), (again, _, _) in zip(opens[:2], opens[2:]):
        assert again.schema == first.schema
        assert _rows(again) == _rows(first)


def test_warm_prologue_py4j_budget(spark, sf_dir, tmp_path):
    """A short registry query's prologue on a warm file: open events,
    map it into the envelope (the Column-API formulation took about 350
    round trips and a job)."""
    d = _copy_table(sf_dir, tmp_path, "events")
    load_table(spark, d, "events")
    budget = _Budget(spark)
    try:
        ce, jobs, trips = _opened(
            budget, lambda: events_to_cloudevents(load_table(spark, d, "events"))
        )
    finally:
        budget.close()
    assert jobs == 0
    assert trips <= 150, trips
    assert ce.columns[:2] == ["id", "source"]


def test_a_rewritten_file_is_opened_with_its_new_schema(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, d, "t").dtypes == [("a", "bigint"), ("b", "string")]
    # in place: same inode, same path
    ts = pa.array([dt.datetime(2024, 1, 2)], pa.timestamp("us"))
    pq.write_table(pa.table({"a": ["p"], "c": [1.5], "ts": ts}), path)
    second = load_table(spark, d, "t")
    assert second.dtypes == [("a", "string"), ("c", "double"), ("ts", "timestamp")]
    assert [tuple(r) for r in second.collect()] == [("p", 1.5, dt.datetime(2024, 1, 2))]
    # replaced by a rename: a new inode at the path
    pq.write_table(pa.table({"z": [True]}), f"{d}/new.parquet")
    os.replace(f"{d}/new.parquet", path)
    third = load_table(spark, d, "t")
    assert third.dtypes == [("z", "boolean")]
    assert [tuple(r) for r in third.collect()] == [(True,)]


def test_a_directory_is_inferred_on_every_open(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/dir.parquet")
    budget = _Budget(spark)
    try:
        opens = [_opened(budget, lambda: load_table(spark, d, "dir")) for _ in range(2)]
    finally:
        budget.close()
    assert [jobs for _, jobs, _ in opens] == [1, 1]


def test_opens_equal_the_column_api_formulation(spark, sf_dir, tmp_path):
    """Every fixture table, first and second open, plus an events file
    with nanosecond timestamps (read as long, truncated to micros)."""
    d = str(tmp_path)
    for name in TABLES:
        _copy_table(sf_dir, tmp_path, name)
    ns = pa.array([1_700_000_000_123_456_789, None, -1_999], pa.timestamp("ns"))
    ns_events = pa.table(
        {
            "event_id": [1, 2, 3],
            "ts": ns,
            "user_id": [7, 8, 9],
            "event_type": ["a", "b", "c"],
            "value": [1.0, None, 3.5],
            "props": ['{"k":1}', None, "x"],
        }
    )
    os.makedirs(f"{d}/ns")
    pq.write_table(ns_events, f"{d}/ns/events.parquet")
    cases = [(d, name) for name in TABLES] + [(f"{d}/ns", "events")]
    for sf, name in cases:
        want = _column_api_load(spark, sf, name)
        for _ in range(2):
            got = load_table(spark, sf, name)
            assert got.schema == want.schema, name
            assert _rows(got) == _rows(want), name
    assert dict(load_table(spark, f"{d}/ns", "events").dtypes)["ts"] == "timestamp"


def test_envelope_equals_the_column_api_formulation(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    for source in ("/test/source", "/it's \\ a 'source'"):
        got, want = events_to_cloudevents(events, source), _column_api_envelope(events, source)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    assert events_to_cloudevents(events).count() == events.count()

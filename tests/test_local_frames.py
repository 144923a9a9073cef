"""Engine frames built from driver-side rows are local relations.

A frame from a Python list is a parallelized RDD (a ``LogicalRDD``), and
every read of it runs Python tasks, 0.3-0.4 s on 4 local cores even for
no rows; ``session.local_frame`` builds the same rows from Arrow as a
``LocalRelation``. Each site keeps its schema and rows, map columns
included.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import _parse_datatype_string


def _local(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def _frame(df, ddl: str, rows: list[tuple]) -> None:
    assert _local(df)
    assert df.schema == _parse_datatype_string(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_metrics_view(spark):
    from vanus_spark.observability import metrics_view

    ddl = "metric string, labels map<string,string>, value long"
    rows = [{"metric": "m", "labels": {"z": "1", "a": "2"}, "value": 3}]
    _frame(metrics_view(spark, rows), ddl, [("m", {"a": "2", "z": "1"}, 3)])
    _frame(metrics_view(spark, []), ddl, [])


def test_role_actions(spark):
    from vanus_spark.authz import ROLE_ACTIONS, role_actions_df

    want = sorted((k, r, a) for (k, r), actions in ROLE_ACTIONS.items() for a in actions)
    _frame(role_actions_df(spark), "resource_kind string, role string, action string", want)


def test_schema_drift(spark):
    from vanus_spark.llm.versioning import schema_drift

    old = T.StructType([T.StructField("x", T.LongType()), T.StructField("y", T.StringType())])
    new = T.StructType([T.StructField("x", T.DoubleType()), T.StructField("z", T.LongType())])
    _frame(
        schema_drift(spark, old, new),
        "field string, status string, old_type string, new_type string",
        [
            ("x", "type_changed", "long", "double"),
            ("y", "removed", "string", None),
            ("z", "added", None, "long"),
        ],
    )


def test_fs_em_estimate(spark):
    from vanus_spark.operators.linkage import fs_em_estimate

    pairs = spark.createDataFrame(
        [(True, True), (True, False), (False, False), (True, True), (None, True)],
        "a boolean, b boolean",
    )
    est = fs_em_estimate(pairs, ["a", "b"])
    assert _local(est)
    assert est.schema == _parse_datatype_string(
        "field string, m_est double, u_est double, lambda_est double, n_pairs long"
    )
    assert [(r.field, r.n_pairs) for r in est.collect()] == [("a", 5), ("b", 5)]


def test_sketch_quantiles_joins_a_local_quantile_list(spark):
    from vanus_spark.operators.qsketch import histogram_sketch, sketch_quantiles

    vals = spark.range(100).select((F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("v"))
    sketch = histogram_sketch(vals, "v", ["g"], 0.0, 100.0, 10)
    out = sketch_quantiles(spark, sketch, ["g"], [0.5, 1.0], 0.0, 100.0, 10)
    assert _local(out)
    assert sorted((r.g, r.q, r.n, r.est) for r in out.collect()) == [
        (0, 0.5, 50, 50.0),
        (0, 1.0, 50, 100.0),
        (1, 0.5, 50, 50.0),
        (1, 1.0, 50, 100.0),
    ]


def test_manifest_lookup_and_empty_change_feed(spark, tmp_path):
    from vanus_spark.sources.manifest_table import ManifestTable

    t = ManifestTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    t.write_full(spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")))
    hits = t.lookup([3, 11, 99])
    assert "LogicalRDD" not in hits._jdf.queryExecution().analyzed().toString()
    assert sorted(tuple(r) for r in hits.collect()) == [(3, 30), (11, 110)]
    _frame(t.changes(1, 1), "k long, _change_type string, row_json string", [])

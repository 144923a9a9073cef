"""Mergeable histogram quantile sketch.

Exact percentiles need a per-group sort — a single fat task per group
at 100 TB. The fixed-bin histogram sketch bounds the state instead: a
(group, bin, cnt) long table of at most ``bins`` rows per group that
(a) builds in one partial-aggregated groupBy whose shuffle carries at
most bins x |groups| rows however large the input, and (b) merges
across shards/days by summing counts (the t-digest workflow with a
deliberately engine-portable statistic: bin assignment is one floor
division and the quantile read-back is integer cumulative-count logic,
so a DuckDB oracle re-derives the whole sketch bit-for-bit — the same
portability argument as the Count-Min and HLL siblings, countmin.py /
hll.py).

Estimate semantics: quantile q reads the upper edge of the first bin
whose cumulative count reaches ceil(q * n) — error bounded by one bin
width. Callers size (lo, hi, bins) from domain knowledge or a prior
min/max scan; out-of-range values clamp to the edge bins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from vanus_spark.session import local_frame


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """(group..., bin, cnt): the sketch as a long table, <= ``bins``
    rows per group. Mergeable: union sketches from any number of
    shards and re-aggregate with sum(cnt)."""
    width = (hi - lo) / bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("long")
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw))
    return (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def sketch_quantiles(
    spark: SparkSession,
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """(group..., q, n, est): quantile estimates off the sketch.

    All logic runs on the bounded sketch table: a cumulative-count
    window per group (<= bins rows), a broadcast join against the
    tiny quantile list, and a min-bin aggregate. ceil(q * n) is one
    IEEE multiply both engines round identically; everything else is
    integer."""
    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*group_cols))
    )
    qdf = local_frame(spark, [{"q": float(q)} for q in qs], "q double")
    hit = cum.join(F.broadcast(qdf)).where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    sel = hit.groupBy(*group_cols, "q", "n").agg(F.min("bin").alias("bin"))
    est = F.lit(lo) + (F.col("bin") + 1).cast("double") * F.lit(width)
    return sel.select(*group_cols, "q", "n", est.alias("est"))

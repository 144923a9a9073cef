"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship subscription pipeline on sf0.001.
``queries()``        — one entry per implemented operator (SURVEY §2 +
                       the LLM-pipeline additions); each callable is
                       (spark, sf_dir) -> DataFrame.
``oracle_sql()``     — DuckDB-equivalent ANSI SQL per query (omitted
                       only for genuinely non-SQL-expressible ops,
                       which get the driver's rows-only check).

The builders and their DuckDB twins live together in the family modules
under ``vanus_spark/queries/``; this file derives the registry from them.
Column names are aliased identically on both sides; float outputs are
rounded on both sides to absorb engine-level float noise.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# queries() and oracle_sql() import the family modules of the checkout
# this file sits in, wherever the caller runs from.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)


# ---------------------------------------------------------------------------
# entry: flagship = the reference's whole data plane in one plan —
# subscription filter -> transform -> per-type delivery stats
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from vanus_spark.filters import compile_filter
    from vanus_spark.queries.common import _cloudevents

    sf_dir = "/root/testdata/sf0.001"
    ce = _cloudevents(spark, sf_dir)
    flt = compile_filter(
        {
            "any": [
                {"exact": {"type": "purchase"}},
                {"all": [{"prefix": {"type": "s"}}, {"cel": "$value.(double) > 50.0"}]},
            ]
        }
    )
    return (
        ce.where(flt)
        .select(
            "type",
            F.get_json_object("data", "$.user_id").cast("long").alias("user_id"),
            F.get_json_object("data", "$.value").cast("double").alias("value"),
        )
        .groupBy("type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("type")
    )


def _oracle_check_order(
    names: list[str], records: list[tuple[int, list[str]]]
) -> list[str]:
    """``names`` ordered least recently oracle-checked first.

    ``records`` holds one (record number, checked names in file order)
    pair per correctness record. A name's key is the highest-numbered
    record that lists it and its position in that record. Names no
    record lists come first, in their given order; listed names no longer
    in ``names`` are ignored."""
    last: dict[str, tuple[int, int]] = {}
    for rnd, checked in sorted(records):
        for pos, name in enumerate(checked):
            last[name] = (rnd, pos)
    never = [n for n in names if n not in last]
    return never + sorted((n for n in names if n in last), key=last.__getitem__)


def _correctness_records() -> list[tuple[int, list[str]]]:
    """The committed CORRECTNESS_rNN.json files next to this module, as
    (record number, checked names in file order)."""
    out = []
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        # skips side files such as a CORRECTNESS_r11_c8.json variant
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                out.append((int(m.group(1)), list(json.load(f))))
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Each correctness run checks the first 50 entries against the DuckDB
    # oracles and is committed as CORRECTNESS_rNN.json, so the least
    # recently checked rows come first and each run's window
    # follows from the records. The full tools/oracle_check.py replica
    # gates every row outside the window.
    from vanus_spark.queries import builders

    base = builders()
    order = _oracle_check_order(list(base), _correctness_records())
    return {k: base[k] for k in order}


def oracle_sql() -> dict[str, str]:
    from vanus_spark.queries import twins

    return twins()

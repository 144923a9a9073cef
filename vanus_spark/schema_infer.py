"""Sample-based JSON schema inference for schema-free payloads.

The reference parses ANY JSON payload per event (pkg/json.go:26-28);
the Spark-side single-parse consolidation (filters.py / cel.py)
instead wants a struct schema so the payload parses ONCE with
``from_json``. When the caller can't declare one — heterogeneous or
unknown payloads — ``infer_data_schema`` derives it the way
``spark.read.json`` does: run Spark's JSON schema inference over a
BOUNDED sample of payload strings (one driver-side collect of at most
``sample_rows`` strings, the same cost class as the k-means/quantile
model collects elsewhere in the engine). Fields absent from a given
row simply parse to NULL, which is exactly the reference's
missing-attribute-fails-the-filter semantics.

``resolve_json_path`` then validates each ``$.a[0].b`` JSONPath
against the inferred schema — including array indexing, which the
declared-paths route (cel._schema_for_paths) cannot express — and
only ATOMIC leaves resolve: an interior object/array leaf keeps the
``get_json_object`` route, because stringifying a struct diverges
from the raw-JSON text that route returns.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from typing import Iterable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: leaf types whose string rendering can differ from the raw JSON
#: text (3 parses to 3.0, renders '3.0' — get_json_object keeps '3').
#: Binding them is only safe when the consumer compares NUMERICALLY
#: at the same type, never textually.
FRACTIONAL_TYPES = (DoubleType, FloatType, DecimalType)

_PART_RE = re.compile(r"^([^\[\]]+)((?:\[\d+\])*)$")
_IDX_RE = re.compile(r"\[(\d+)\]")


def infer_data_schema(
    df: DataFrame, data_col: str = "data", sample_rows: int = 1000
) -> StructType | None:
    """Infer the JSON payload column's struct schema from a bounded
    sample, or None when inference fails (no parseable rows). The
    sample collect is the only driver-side step; the inferred schema
    then compiles into the executor-side single-parse plan, so the
    cost is one small job at plan time regardless of table size."""
    rows = (
        df.select(data_col)
        .where(F.col(data_col).isNotNull())
        .limit(sample_rows)
        .collect()
    )
    strs = [r[0] for r in rows if r[0]]
    if not strs:
        return None
    spark = df.sparkSession
    # spark.read.json over an in-memory dataset of strings — the one
    # place the RDD API is the intended surface (DataFrameReader.json
    # accepts RDD[str]); the sample is already bounded and collected.
    inferred = spark.read.json(spark.sparkContext.parallelize(strs, 1)).schema
    fields = [f for f in inferred.fields if f.name != "_corrupt_record"]
    if not fields:
        return None  # nothing parseable: caller keeps per-path parsing
    return StructType(fields)


_LEAF_TYPES = {
    bool: BooleanType(),
    int: LongType(),
    float: DoubleType(),
    str: StringType(),
}
_CONFLICT = object()  # a field seen at two types


def _merge_sample(acc: dict, obj: dict) -> None:
    for k, v in obj.items():
        cur = acc.get(k)
        if v is None:
            acc.setdefault(k, None)  # holds the key's first-seen place
        elif isinstance(v, dict):
            if cur is None:
                cur = acc[k] = {}
            if isinstance(cur, dict):
                _merge_sample(cur, v)
            else:
                acc[k] = _CONFLICT
        else:
            t = _LEAF_TYPES.get(type(v), _CONFLICT)
            if t is _LEAF_TYPES[int] and not -(2**63) <= v < 2**63:
                t = _CONFLICT
            if cur is None:
                acc[k] = t
            elif cur is not t:
                acc[k] = _CONFLICT


def _sample_struct(acc: dict) -> StructType | None:
    folded = Counter(k.lower() for k in acc)
    fields = []
    for k, t in acc.items():
        if (
            t is None
            or t is _CONFLICT
            or not k
            or "." in k
            or "`" in k
            or k == "_corrupt_record"
            or folded[k.lower()] > 1
        ):
            continue
        if isinstance(t, dict):
            t = _sample_struct(t)
            if t is None:
                continue
        fields.append(StructField(k, t))
    return StructType(fields) if fields else None


def infer_sample_schema(payloads: Iterable[str]) -> StructType | None:
    """Struct schema of JSON object payloads already on the driver,
    with no Spark job (``infer_data_schema``'s ``spark.read.json``
    costs one). Leaves are boolean, bigint, double or string, nested
    objects structs, in first-seen key order. Left out: a field seen at
    two types (``1`` and ``1.5`` included), one only ever null, an
    array, and a key a struct field cannot carry unambiguously (empty,
    dotted, backticked, ``_corrupt_record``, or equal to another but
    for case). Non-object and malformed payloads are skipped. None
    when no field is left."""
    acc: dict = {}
    for s in payloads:
        try:
            obj = json.loads(s)
        except (TypeError, ValueError):
            continue
        if isinstance(obj, dict):
            _merge_sample(acc, obj)
    return _sample_struct(acc)



def round_trips(schema: StructType, data_col: str = "data") -> Column:
    """True where the payload renders back byte for byte through
    ``schema``: ``to_json(from_json(data)) = data``, with quoted
    NaN/Infinity refused for number fields. Such a payload is exactly
    the struct a plan compiled under ``schema`` reads. False for every
    other payload: an extra, explicitly null or retyped field, ``1`` in
    a double field, other key order or spacing, an escape the writer
    would not emit, a nil-ish, non-object or malformed payload."""
    data = F.col(data_col)
    parsed = F.from_json(data, schema, {"allowNonNumericNumbers": "false"})
    return F.coalesce(F.to_json(parsed) == data, F.lit(False))
def resolve_json_path(
    schema: StructType, path: str
) -> tuple[str, DataType] | None:
    """(SQL reference suffix ``.`a`[0].`b```, leaf type) for a
    ``$.a[0].b`` JSONPath under ``schema``, or None when the path
    doesn't resolve to an atomic leaf (missing field, non-array
    indexing, interior object/array endpoint)."""
    if not path.startswith("$.") or len(path) <= 2:
        return None
    cur: DataType = schema
    sql = ""
    for part in path[2:].split("."):
        m = _PART_RE.match(part)
        if m is None:
            return None
        name, idxs = m.group(1), m.group(2)
        if not isinstance(cur, StructType) or name not in cur.fieldNames():
            return None
        cur = cur[name].dataType
        sql += f".`{name}`"
        for idx in _IDX_RE.findall(idxs):
            if not isinstance(cur, ArrayType):
                return None
            sql += f"[{int(idx)}]"
            cur = cur.elementType
    if isinstance(cur, (StructType, ArrayType, MapType)):
        return None  # interior node: get_json_object keeps raw-JSON text
    return sql, cur


def resolve_json_path_col(s: Column, schema: StructType, path: str) -> Column | None:
    """Column form of :func:`resolve_json_path` for TEXTUAL consumers
    (exact/prefix/suffix filters): walk the bound parsed struct ``s``
    down the path, returning the leaf CAST TO STRING — the same text
    ``get_json_object`` yields (12 -> '12', true -> 'true').
    Fractional leaves return None (their rendering diverges from the
    raw text: 3 -> '3.0'); the caller keeps the per-path route."""
    r = resolve_json_path(schema, path)
    if r is None or isinstance(r[1], FRACTIONAL_TYPES):
        return None
    cur = s
    for part in path[2:].split("."):
        m = _PART_RE.match(part)
        cur = cur[m.group(1)]
        for idx in _IDX_RE.findall(m.group(2)):
            cur = cur[int(idx)]
    return cur.cast("string")

"""The transform-runtime cast lattice.

Normative semantics from the reference's implicit-cast table
(reference: pkg/transform/common/cast.go:24-150, types.go:20-30):

- anything -> String is always defined; maps/arrays JSON-marshal;
  floats render shortest-form (Go ``%v``), bools as true/false.
- String -> Float via ParseFloat, else ERROR (not NULL).
- String/float -> Int truncates toward zero; non-numeric string ERROR.
- "true"/"false" (case-insensitive) -> Bool, anything else ERROR.
- scalar -> StringArray/Array wraps in a 1-element list.

Two implementations, same semantics:
- Python (``py_cast``) — used by the pandas-batch pipeline interpreter,
  where "error" raises ``CastError`` (action is then skipped, matching
  pipeline/pipeline.go:41-52 skip-on-error).
- Column (``col_to_float`` etc.) — used by the compiled JVM plans,
  where "error" becomes NULL via try_cast and the caller decides
  (Spark's own CAST('x' AS INT)→NULL differs from Vanus's error, so
  compiled plans wrap with null-propagation that mimics skip).
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import Column, functions as F


class CastError(ValueError):
    """Cast failed — the enclosing action must be skipped."""


import re as _re

# Go strconv acceptance, shared by BOTH implementations so the
# compiled and interpreted paths reject the same strings. ParseInt
# (base 10) takes only [+-]?digits — no whitespace, no underscores,
# no unicode digits (Python's int()/float() accept all three, so the
# Python path must pre-screen). ParseFloat additionally takes
# inf/infinity/nan forms. Known deltas vs Go, identical on both
# paths (documented in ARCHITECTURE.md): Go's underscore-grouped
# ("1_000.5") and hex ("0x1p-2") float literals are rejected here.
_INT_STR_RE = _re.compile(r"[+-]?[0-9]+\Z")
_FLOAT_STR_RE = _re.compile(
    r"[+-]?(?:(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|[iI][nN][fF](?:[iI][nN][iI][tT][yY])?|[nN][aA][nN])\Z"
)
_INF_STR_RE = _re.compile(r"[+-]?[iI][nN][fF](?:[iI][nN][iI][tT][yY])?\Z")
_FLOAT_COL_RE = (
    "^[+-]?((([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?)"
    "|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
)
_INF_COL_RE = "^[+-]?[iI][nN][fF]([iI][nN][iI][tT][yY])?$"
_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


def _format_float(v: float) -> str:
    # Go's %v prints floats in shortest repr: 6.0 -> "6", 6.5 -> "6.5".
    if math.isfinite(v) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def py_cast(val: Any, target: str) -> Any:
    """Cast a Python value per the reference lattice.

    ``target`` in {"string","float","int","bool","array","string_array","any"}.
    """
    if target == "any":
        return val
    if target == "string":
        if isinstance(val, str):
            return val
        if isinstance(val, bool):
            return "true" if val else "false"
        if isinstance(val, float):
            return _format_float(val)
        if isinstance(val, int):
            return str(val)
        if isinstance(val, (dict, list)):
            return json.dumps(val, separators=(",", ":"), ensure_ascii=False)
        if val is None:
            return "<nil>"  # Go %v of nil interface
        return str(val)
    if target == "float":
        if isinstance(val, bool):
            raise CastError(f"undefined cast from bool {val} to float")
        if isinstance(val, float):
            return val
        if isinstance(val, int):
            return float(val)
        if isinstance(val, str):
            # Go ParseFloat acceptance, not Python float() — which
            # would also take whitespace, underscores, unicode digits
            if not _FLOAT_STR_RE.fullmatch(val):
                raise CastError(f"cannot cast from String value {val} to Float")
            v = float(val)
            if math.isinf(v) and not _INF_STR_RE.fullmatch(val):
                # overflow: Go returns ±Inf WITH ErrRange => error
                raise CastError(f"cannot cast from String value {val} to Float")
            return v
        raise CastError(f"undefined cast from {type(val).__name__} to float")
    if target == "int":
        if isinstance(val, bool):
            raise CastError(f"undefined cast from bool {val} to int")
        if isinstance(val, int):
            return val
        if isinstance(val, float):
            return int(val)  # truncate toward zero, like Go int(value)
        if isinstance(val, str):
            # Go ParseInt(s, 10, 64) acceptance + range, not Python's
            # int() — which also takes whitespace/underscores/unicode
            if not _INT_STR_RE.fullmatch(val):
                raise CastError(f"cannot cast from String value {val} to Int")
            v = int(val, 10)
            if not (_INT64_MIN <= v <= _INT64_MAX):
                raise CastError(f"cannot cast from String value {val} to Int")
            return v
        raise CastError(f"undefined cast from {type(val).__name__} to int")
    if target == "bool":
        if isinstance(val, bool):
            return val
        if isinstance(val, str):
            low = val.lower()
            if low == "true":
                return True
            if low == "false":
                return False
            raise CastError(f"cannot cast String value {val} to Bool")
        raise CastError(f"undefined cast from {type(val).__name__} to bool")
    if target == "string_array":
        if isinstance(val, list):
            return [py_cast(v, "string") for v in val]
        if isinstance(val, (str, int, float)):
            return [py_cast(val, "string")]
        raise CastError(f"undefined cast from {type(val).__name__} to stringArray")
    if target == "array":
        if isinstance(val, list):
            return val
        if isinstance(val, (str, int, float, bool)):
            return [val]
        raise CastError(f"undefined cast from {type(val).__name__} to array")
    raise ValueError(f"unknown cast target {target}")


# ---------------------------------------------------------------------------
# Column-side casts (JVM path). Errors become NULL (try_cast); compiled
# actions use when(isNull, <unchanged>) to reproduce skip-on-error.
# ---------------------------------------------------------------------------

def col_to_float(c: Column) -> Column:
    """Strict ParseFloat twin of the py_cast float path: Spark's own
    try_cast would also trim whitespace (' 12 ' -> 12.0, a Go parse
    error), so the string form is regex-screened first; string
    overflow to ±Inf (Go ErrRange) nulls out unless the input IS an
    inf literal."""
    s = c.cast("string")
    d = s.try_cast("double")
    overflow = (F.abs(d) == F.lit(float("inf"))) & ~s.rlike(_INF_COL_RE)
    return F.when(
        s.rlike(_FLOAT_COL_RE) & ~F.coalesce(overflow, F.lit(False)), d
    )


def col_to_int(c: Column) -> Column:
    """String->Int must be a base-10 integer literal (ParseInt), so
    '12.5' errors in the reference; float->Int truncates. try_cast to
    long on the string form reproduces ParseInt; numeric inputs go
    through double truncation."""
    return F.when(
        c.cast("string").rlike("^[+-]?[0-9]+$"), c.cast("string").try_cast("long")
    ).otherwise(F.lit(None).cast("long"))


def col_to_string(c: Column) -> Column:
    """Go %v float rendering: integral floats print without '.0'."""
    d = c.try_cast("double")
    return F.when(
        d.isNotNull() & (d == F.floor(d)) & (F.abs(d) < F.lit(1e15)),
        d.cast("decimal(25,0)").cast("string"),
    ).otherwise(c.cast("string"))


def col_to_bool(c: Column) -> Column:
    low = F.lower(c.cast("string"))
    return F.when(low == "true", F.lit(True)).when(low == "false", F.lit(False)).otherwise(
        F.lit(None).cast("boolean")
    )

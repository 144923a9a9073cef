"""The 38-action transform pipeline, interpreted.

This is the exact-semantics engine for arbitrary subscriptions over
schemaless JSON. Compiled Column plans (functions/scalars.py +
plans/compiler.py) cover static pipelines; anything dynamic — free
JSONPath targets, ARRAY_FOREACH nesting, UNFOLD_ARRAY's data-dependent
keys — runs here, vectorized per Arrow batch via mapInPandas (see
transformer.py).

Reference semantics reproduced:
- registry with case-insensitive names, arity / variadic checks
  (pkg/transform/runtime/action.go:33-101, init.go:30-77)
- arg addressing: "$.data[.path]" payload, "$.attr" envelope attr,
  "@.path" == "$.data.path", "<var>" define variable (read-only),
  else constant (pkg/transform/arg/arg.go:76-100)
- args are cast per the lattice before the function runs
  (action/action.go:71-87 RunArgs + common/cast.go)
- a missing arg value / failed cast / action error => the action is
  SKIPPED, the (possibly half-mutated) event continues
  (server/trigger/transform/pipeline/pipeline.go:41-52)
- CREATE/MOVE/RENAME/DUPLICATE/SPLIT_BETWEEN_POSITIONS/
  SPLIT_WITH_INTERVALS require the target NOT exist; REPLACE requires
  it exist (action/structs/*.go, action/strings/split_*.go)
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from vanus_spark.casts import CastError, py_cast
from vanus_spark.jsonpath import (
    JSONPathNotExist,
    py_delete,
    py_exists,
    py_get,
    py_set,
)
from vanus_spark.model import SPEC_ATTRIBUTES, validate_extension_attr_name


class ActionError(Exception):
    """Any action failure — pipeline logs and continues."""


@dataclass
class EventContext:
    """attrs: envelope + extension attributes (flat, stringly);
    data: parsed JSON payload (reference: pkg/transform/context)."""

    attrs: dict[str, Any] = field(default_factory=dict)
    data: Any = None
    define: dict[str, Any] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Arg addressing
# ---------------------------------------------------------------------------

class Arg:
    kind = "constant"

    def __init__(self, original: Any):
        self.original = original

    def evaluate(self, ctx: EventContext) -> Any:
        raise NotImplementedError

    def set_value(self, ctx: EventContext, v: Any) -> None:
        raise ActionError(f"arg {self.original} is not settable")

    def delete_value(self, ctx: EventContext) -> None:
        raise ActionError(f"arg {self.original} is not deletable")


class ConstantArg(Arg):
    kind = "constant"

    def evaluate(self, ctx: EventContext) -> Any:
        return self.original


class AttributeArg(Arg):
    kind = "attribute"

    def __init__(self, original: str):
        super().__init__(original)
        self.attr = original[2:].lower()
        if self.attr not in SPEC_ATTRIBUTES and not validate_extension_attr_name(self.attr):
            raise ActionError(f"invalid attribute name {self.attr}")

    def evaluate(self, ctx: EventContext) -> Any:
        if self.attr not in ctx.attrs or ctx.attrs[self.attr] is None:
            raise ActionError(f"attribute {self.attr} is nil")
        return ctx.attrs[self.attr]

    def set_value(self, ctx: EventContext, v: Any) -> None:
        ctx.attrs[self.attr] = py_cast(v, "string")

    def delete_value(self, ctx: EventContext) -> None:
        ctx.attrs.pop(self.attr, None)


class DataArg(Arg):
    kind = "data"

    def __init__(self, original: str):
        super().__init__(original)
        # "$.data" => whole payload; "$.data.x.y" => path
        self.path = original[7:] if len(original) > 7 else ""

    def evaluate(self, ctx: EventContext) -> Any:
        if self.path == "":
            return ctx.data
        try:
            v = py_get(ctx.data, "$." + self.path)
        except JSONPathNotExist:
            raise ActionError(f"data path {self.path} not exist") from None
        if v is None:
            raise ActionError(f"data path {self.path} is nil")
        return v

    def exists(self, ctx: EventContext) -> bool:
        if self.path == "":
            return ctx.data is not None
        return py_exists(ctx.data, "$." + self.path)

    def set_value(self, ctx: EventContext, v: Any) -> None:
        if self.path == "":
            ctx.data = v
            return
        ctx.data = py_set(ctx.data, "$." + self.path, v)

    def delete_value(self, ctx: EventContext) -> None:
        if self.path == "":
            ctx.data = {}
            return
        try:
            py_delete(ctx.data, "$." + self.path)
        except JSONPathNotExist:
            raise ActionError(f"data path {self.path} not exist") from None


class DefineArg(Arg):
    kind = "define"

    def __init__(self, original: str):
        super().__init__(original)
        self.name = original  # includes <>

    def evaluate(self, ctx: EventContext) -> Any:
        if self.name not in ctx.define or ctx.define[self.name] is None:
            raise ActionError(f"define var {self.name} is nil")
        return ctx.define[self.name]


def new_arg(raw: Any) -> Arg:
    """Dispatch per reference arg.go:76-100."""
    if isinstance(raw, str):
        s = raw.strip()
        if s == "$.data" or s.startswith("$.data."):
            return DataArg(s)
        if s.startswith("$."):
            return AttributeArg(s)
        if s.startswith("@."):
            return DataArg("$.data." + s[2:])
        if len(s) >= 3 and s[0] == "<" and s[-1] == ">" and s[1] != "@":
            return DefineArg(s)
    return ConstantArg(raw)


def _eval_exists(arg: Arg, ctx: EventContext) -> bool:
    """TargetArg.Evaluate != nil check used by CREATE/MOVE/etc."""
    try:
        v = arg.evaluate(ctx)
        return v is not None
    except ActionError:
        return False


# ---------------------------------------------------------------------------
# Action base machinery
# ---------------------------------------------------------------------------

@dataclass
class ActionDef:
    name: str
    arity: int  # number of fixed args
    variadic: bool
    run: Callable[[list[Arg], EventContext], None]


_REGISTRY: dict[str, ActionDef] = {}


def register(name: str, arity: int, variadic: bool = False):
    def deco(fn: Callable[[list[Arg], EventContext], None]):
        _REGISTRY[name.upper()] = ActionDef(name.upper(), arity, variadic, fn)
        return fn

    return deco


@dataclass
class BoundAction:
    spec: ActionDef
    args: list[Arg]
    command: list[Any]

    def execute(self, ctx: EventContext) -> None:
        self.spec.run(self.args, ctx)


def build_action(command: list[Any]) -> BoundAction:
    """command = [NAME, arg1, arg2, ...]; names case-insensitive
    (reference: runtime/action.go:33-41, arity checks :43-101)."""
    if not command:
        raise ValueError("empty action command")
    name = str(command[0]).upper()
    if name == "ARRAY_FOREACH" and len(command) >= 3 and isinstance(command[2], list):
        return build_array_foreach(command)
    spec = _REGISTRY.get(name)
    if spec is None:
        raise ValueError(f"unknown action {command[0]}")
    raw_args = command[1:]
    if len(raw_args) < spec.arity or (len(raw_args) > spec.arity and not spec.variadic):
        raise ValueError(
            f"action {name} expects {spec.arity}{'+' if spec.variadic else ''} args, "
            f"got {len(raw_args)}"
        )
    if name == "ARRAY_FOREACH":
        args = [new_arg(raw_args[0])]  # nested command handled in run
        return BoundAction(spec, args, command)
    return BoundAction(spec, [new_arg(a) for a in raw_args], command)


def run_pipeline(actions: list[BoundAction], ctx: EventContext) -> list[str]:
    """Run actions sequentially; errors are recorded and SKIPPED
    (reference: pipeline/pipeline.go:41-52). Returns skip messages."""
    errors: list[str] = []
    for a in actions:
        try:
            a.execute(ctx)
        except (ActionError, CastError, Exception) as e:  # noqa: BLE001
            errors.append(f"{a.spec.name}: {e}")
    return errors


def _run_args(args: list[Arg], types: list[str], ctx: EventContext) -> list[Any]:
    out = []
    for a, t in zip(args, types):
        v = a.evaluate(ctx)
        out.append(py_cast(v, t))
    return out


def _variadic_types(args: list[Arg], fixed: list[str], var_type: str) -> list[str]:
    return fixed + [var_type] * (len(args) - len(fixed))


# ---------------------------------------------------------------------------
# structs (reference: pkg/transform/action/structs/*.go)
# ---------------------------------------------------------------------------

@register("CREATE", 2)
def _create(args, ctx):
    target = args[0]
    if _eval_exists(target, ctx):
        raise ActionError(f"key {target.original} exist")
    target.set_value(ctx, args[1].evaluate(ctx))


@register("DELETE", 1)
def _delete(args, ctx):
    args[0].delete_value(ctx)


@register("REPLACE", 2)
def _replace(args, ctx):
    target = args[0]
    if not _eval_exists(target, ctx):
        raise ActionError(f"key {target.original} not exist")
    target.set_value(ctx, args[1].evaluate(ctx))


def _move_like(args, ctx):
    src, dst = args[0], args[1]
    if _eval_exists(dst, ctx):
        raise ActionError(f"key {dst.original} exist")
    v = src.evaluate(ctx)
    dst.set_value(ctx, v)
    src.delete_value(ctx)


@register("MOVE", 2)
def _move(args, ctx):
    _move_like(args, ctx)


@register("RENAME", 2)
def _rename(args, ctx):
    _move_like(args, ctx)


@register("DUPLICATE", 2)
def _duplicate(args, ctx):
    src, dst = args[0], args[1]
    if _eval_exists(dst, ctx):
        raise ActionError(f"key {dst.original} exist")
    dst.set_value(ctx, src.evaluate(ctx))


# ---------------------------------------------------------------------------
# math (reference: pkg/transform/function/math_functions.go)
# ---------------------------------------------------------------------------

@register("MATH_ADD", 3, variadic=True)
def _math_add(args, ctx):
    vals = _run_args(args[1:], ["float"] * (len(args) - 1), ctx)
    args[0].set_value(ctx, float(sum(vals)))


@register("MATH_SUB", 3)
def _math_sub(args, ctx):
    a, b = _run_args(args[1:], ["float", "float"], ctx)
    args[0].set_value(ctx, a - b)


@register("MATH_MUL", 3, variadic=True)
def _math_mul(args, ctx):
    vals = _run_args(args[1:], ["float"] * (len(args) - 1), ctx)
    out = 1.0
    for v in vals:
        out *= v
    args[0].set_value(ctx, out)


@register("MATH_DIV", 3)
def _math_div(args, ctx):
    a, b = _run_args(args[1:], ["float", "float"], ctx)
    if b == 0:
        raise ActionError("division by zero")
    args[0].set_value(ctx, a / b)


# ---------------------------------------------------------------------------
# datetime (reference: pkg/transform/function/datatime_functions.go)
# ---------------------------------------------------------------------------

_PHP_TO_PY = {
    "d": "%d",
    "m": "%m",
    "Y": "%Y",
    "y": "%y",
    "h": "%I",
    "H": "%H",
    "i": "%M",
    "s": "%S",
}


def php_format_to_strftime(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "\\" and i + 1 < len(fmt):
            nxt = fmt[i + 1]
            out.append(nxt.replace("%", "%%"))
            i += 2
            continue
        out.append(_PHP_TO_PY.get(ch, ch.replace("%", "%%")))
        i += 1
    return "".join(out)


def _load_tz(name: str):
    from zoneinfo import ZoneInfo

    return ZoneInfo(name)


def _parse_rfc3339(s: str) -> datetime:
    t = s.replace("Z", "+00:00") if s.endswith("Z") else s
    dt = datetime.fromisoformat(t)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt


@register("DATE_FORMAT", 2, variadic=True)
def _date_format(args, ctx):
    types = _variadic_types(args, ["string", "string"], "string")
    vals = _run_args(args, types, ctx)
    dt = _parse_rfc3339(vals[0])
    tz = timezone.utc
    if len(vals) > 2 and vals[2] != "":
        tz = _load_tz(vals[2])  # bad tz -> exception -> skip (matches LoadLocation error)
    args[0].set_value(ctx, dt.astimezone(tz).strftime(php_format_to_strftime(vals[1])))


@register("UNIX_TIME_FORMAT", 2, variadic=True)
def _unix_time_format(args, ctx):
    types = _variadic_types(args, ["int", "string"], "string")
    vals = _run_args(args, types, ctx)
    tz = timezone.utc
    if len(vals) > 2 and vals[2] != "":
        tz = _load_tz(vals[2])
    dt = datetime.fromtimestamp(vals[0], tz)
    args[0].set_value(ctx, dt.strftime(php_format_to_strftime(vals[1])))


@register("CONVERT_TIMEZONE", 3, variadic=True)
def _convert_timezone(args, ctx):
    types = _variadic_types(args, ["string", "string", "string"], "string")
    vals = _run_args(args, types, ctx)
    fmt = "%Y-%m-%d %H:%M:%S"
    if len(vals) > 3 and vals[3] != "":
        fmt = php_format_to_strftime(vals[3])

    def tz_or_utc(name):  # TimezoneFromString: bad tz -> UTC, no error
        if not name:
            return timezone.utc
        try:
            return _load_tz(name)
        except Exception:  # noqa: BLE001
            return timezone.utc

    src = datetime.strptime(vals[0], fmt).replace(tzinfo=tz_or_utc(vals[1]))
    args[0].set_value(ctx, src.astimezone(tz_or_utc(vals[2])).strftime(fmt))


# ---------------------------------------------------------------------------
# strings (reference: pkg/transform/function/strings_functions.go,
#          pkg/transform/action/strings/*.go)
# ---------------------------------------------------------------------------

@register("JOIN", 3, variadic=True)
def _join(args, ctx):
    types = _variadic_types(args[1:], ["string", "string_array"], "string_array")
    vals = _run_args(args[1:], types, ctx)
    sep = vals[0]
    args[0].set_value(ctx, sep.join(sep.join(arr) for arr in vals[1:]))


@register("UPPER_CASE", 1)
def _upper(args, ctx):
    (v,) = _run_args(args, ["string"], ctx)
    args[0].set_value(ctx, v.upper())


@register("LOWER_CASE", 1)
def _lower(args, ctx):
    (v,) = _run_args(args, ["string"], ctx)
    args[0].set_value(ctx, v.lower())


@register("ADD_PREFIX", 2)
def _add_prefix(args, ctx):
    v, p = _run_args(args, ["string", "string"], ctx)
    args[0].set_value(ctx, p + v)


@register("ADD_SUFFIX", 2)
def _add_suffix(args, ctx):
    v, s = _run_args(args, ["string", "string"], ctx)
    args[0].set_value(ctx, v + s)


@register("SPLIT_WITH_DELIMITER", 3)
def _split_with_delimiter(args, ctx):
    v, sep = _run_args(args[:2], ["string", "string"], ctx)
    args[2].set_value(ctx, v.split(sep))


@register("SPLIT_FROM_START", 3)
def _split_from_start(args, ctx):
    v, pos = _run_args(args[:2], ["string", "int"], ctx)
    if pos <= 0:
        raise ActionError("split position must be more than zero")
    if pos >= len(v):
        args[2].set_value(ctx, [v, ""])
        return
    args[2].set_value(ctx, [v[:pos], v[pos:]])


@register("SPLIT_BETWEEN_POSITIONS", 4)
def _split_between_positions(args, ctx):
    target = args[3]
    if _eval_exists(target, ctx):
        raise ActionError(f"key {target.original} exists")
    v, start, end = _run_args(args[:3], ["string", "int", "int"], ctx)
    if start < 0:
        # the reference slices v[:start] unguarded — a Go runtime panic
        # (split_between_positions.go:80-88); the defined port behavior
        # is an action error => skip (NOT Python negative slicing)
        raise ActionError("start position must not be negative")
    if start >= end:
        raise ActionError("start position must be less than the endPosition")
    if start >= len(v):
        parts = [v, "", ""]
    elif end > len(v):
        parts = [v[:start], v[start:], ""]
    else:
        parts = [v[:start], v[start:end], v[end:]]
    target.set_value(ctx, parts)


@register("SPLIT_WITH_INTERVALS", 4)
def _split_with_intervals(args, ctx):
    target = args[3]
    if _eval_exists(target, ctx):
        raise ActionError(f"key {target.original} exists")
    v, start, interval = _run_args(args[:3], ["string", "int", "int"], ctx)
    if start < 0 or interval < 1:
        # negative start = reference Go slice panic; interval < 1 would
        # never advance the cursor (infinite loop) — both error => skip
        raise ActionError("start must be >= 0 and interval >= 1")
    if start > len(v):
        target.set_value(ctx, [v])
        return
    parts = [v[:start]]
    i = start
    while i < len(v):
        parts.append(v[i : i + interval])
        i += interval
    target.set_value(ctx, parts)


@register("REPLACE_STRING", 3)
def _replace_string(args, ctx):
    v, old, new = _run_args(args, ["string", "string", "string"], ctx)
    args[0].set_value(ctx, v.replace(old, new))


@register("REPLACE_WITH_REGEX", 3)
def _replace_with_regex(args, ctx):
    v, pattern, repl = _run_args(args, ["string", "string", "string"], ctx)
    args[0].set_value(ctx, re.sub(pattern, repl.replace("\\", "\\\\"), v))


@register("REPLACE_BETWEEN_POSITIONS", 4)
def _replace_between_positions(args, ctx):
    v, start, end, val = _run_args(args, ["string", "int", "int", "string"], ctx)
    if start < 0 or end < 0:
        # unguarded in the reference (strings_functions.go:87-107) —
        # Go slice panic; defined port behavior: error => skip
        raise ActionError("positions must not be negative")
    if start >= len(v):
        raise ActionError("start position must be less than the length of the string")
    if end >= len(v):
        raise ActionError("end position must be less than the length of the string")
    if start >= end:
        raise ActionError("start position must be less than end position")
    args[0].set_value(ctx, v[:start] + val + v[end:])


@register("REPLACE_BETWEEN_DELIMITERS", 4)
def _replace_between_delimiters(args, ctx):
    v, sd, ed, val = _run_args(args, ["string", "string", "string", "string"], ctx)
    if sd == "" or ed == "":
        raise ActionError("start or end delemiter is empty")
    start = v.find(sd)
    if start < 0:
        raise ActionError("start delemiter is not exist")
    idx = start + len(sd)
    end = v[idx:].find(ed)
    if end < 0:
        raise ActionError("end delemiter is not exist")
    args[0].set_value(ctx, v[:start] + val + v[idx + end + len(ed) :])


@register("EXTRACT_BETWEEN_DELIMITERS", 4)
def _extract_between_delimiters(args, ctx):
    v = py_cast(args[0].evaluate(ctx), "string")
    sd = py_cast(args[2].evaluate(ctx), "string")
    ed = py_cast(args[3].evaluate(ctx), "string")
    if sd == "" or ed == "":
        raise ActionError("start or end delimiter is empty")
    start = v.find(sd)
    if start < 0:
        raise ActionError("start delemiter is not exist")
    start += len(sd)
    end = v[start:].find(ed)
    if end < 0:
        raise ActionError("end delemiter is not exist")
    args[1].set_value(ctx, v[start : start + end])


@register("EXTRACT_BETWEEN_POSITIONS", 4)
def _extract_between_positions(args, ctx):
    v = py_cast(args[0].evaluate(ctx), "string")
    start = py_cast(args[2].evaluate(ctx), "int")
    end = py_cast(args[3].evaluate(ctx), "int")
    if start > len(v):
        raise ActionError("start position must be equal or less than the length of the string")
    if start <= 0:
        raise ActionError("start position must be more than zero")
    if end > len(v):
        raise ActionError("end position must be equal or less than the length of the string")
    if start > end:
        raise ActionError("start position must be be equal or less than end position")
    args[1].set_value(ctx, v[start - 1 : end])


@register("EXTRACT_MISSING_ACTION", 4)
def _extract_missing(args, ctx):
    try:
        v = py_cast(args[0].evaluate(ctx), "string")
    except ActionError:
        raise  # missing source path is an arg error => skip (matches RunArgs)
    if v == "":
        args[1].set_value(ctx, args[2].evaluate(ctx))
    else:
        args[1].set_value(ctx, args[3].evaluate(ctx))


# EXTRACT_MISSING alias used in docs/fixtures
_REGISTRY["EXTRACT_MISSING"] = _REGISTRY["EXTRACT_MISSING_ACTION"]


@register("CHECK_CUSTOM_VALUES", 5)
def _check_custom_values(args, ctx):
    v = py_cast(args[0].evaluate(ctx), "string")
    needle = py_cast(args[1].evaluate(ctx), "string")
    if needle in v:
        args[2].set_value(ctx, args[3].evaluate(ctx))
    else:
        args[2].set_value(ctx, args[4].evaluate(ctx))


@register("CAPITALIZE_SENTENCE", 1)
def _capitalize_sentence(args, ctx):
    (v,) = _run_args(args, ["string"], ctx)
    if len(v) == 0:
        args[0].set_value(ctx, v)
        return
    args[0].set_value(ctx, v[0].upper() + v[1:])


@register("CAPITALIZE_WORD", 1)
def _capitalize_word(args, ctx):
    (v,) = _run_args(args, ["string"], ctx)
    out = []
    in_word = False
    for ch in v:
        if not ch.isspace():
            out.append(ch.title() if not in_word else ch)
            in_word = True
        else:
            out.append(ch)
            in_word = False
    args[0].set_value(ctx, "".join(out))


# ---------------------------------------------------------------------------
# condition / common (reference: action/condition, action/common)
# ---------------------------------------------------------------------------

@register("CONDITION_IF", 6)
def _condition_if(args, ctx):
    op = args[2].evaluate(ctx)
    if not isinstance(op, str):
        raise ActionError("op type must be string")
    if op == "==":
        src = py_cast(args[1].evaluate(ctx), "string")
        cmp_v = py_cast(args[3].evaluate(ctx), "string")
        result = src == cmp_v
    elif op in (">=", ">", "<=", "<"):
        src = py_cast(args[1].evaluate(ctx), "float")
        cmp_v = py_cast(args[3].evaluate(ctx), "float")
        result = {
            ">=": src >= cmp_v,
            ">": src > cmp_v,
            "<=": src <= cmp_v,
            "<": src < cmp_v,
        }[op]
    else:
        raise ActionError(f"not support op [{op}]")
    args[0].set_value(ctx, args[4 if result else 5].evaluate(ctx))


@register("LENGTH", 2)
def _length(args, ctx):
    v = args[1].evaluate(ctx)
    if isinstance(v, (str, list, dict)):
        args[0].set_value(ctx, len(v))
        return
    raise ActionError(f"length not support {v}")


# ---------------------------------------------------------------------------
# array (reference: pkg/transform/action/array/*.go)
# ---------------------------------------------------------------------------

@register("RENDER_ARRAY", 3)
def _render_array(args, ctx):
    """RENDER_ARRAY(target, arrayPathPrefix, template); template uses
    <@ path> placeholders read via prefix[:]path wildcards
    (reference: action/array/render.go:36-114)."""
    target = args[0]
    prefix = args[1].original
    text = str(args[2].original)
    paths: list[str] = []
    segments: list[str] = []
    pos = 0
    while True:
        x = text.find("<@", pos)
        if x < 0:
            segments.append(text[pos:])
            break
        y = text.find(">", x + 2)
        if y < 0:
            segments.append(text[pos:])
            break
        segments.append(text[pos:x])
        paths.append(text[x + 2 : y])
        segments.append(None)  # placeholder marker
        pos = y + 1
        if pos == len(text):
            break
    if not paths:
        target.set_value(ctx, ["".join(s for s in segments if s)])
        return
    value_lists = []
    for p in paths:
        a = new_arg(prefix + "[:]" + p)
        v = py_cast(a.evaluate(ctx), "array")
        value_lists.append(v)
    n = len(value_lists[0])
    for vl in value_lists[1:]:
        if len(vl) != n:
            raise ActionError("template value length is not same")
    rendered = []
    for i in range(n):
        parts = []
        j = 0
        for s in segments:
            if s is None:
                parts.append(py_cast(value_lists[j][i], "string"))
                j += 1
            else:
                parts.append(s)
        rendered.append("".join(parts))
    target.set_value(ctx, rendered)


@register("UNFOLD_ARRAY", 2)
def _unfold_array(args, ctx):
    arr = py_cast(args[0].evaluate(ctx), "array")
    prefix = args[1].original
    errs = []
    for i, v in enumerate(arr):
        try:
            new_arg(f"{prefix}-{i}").set_value(ctx, v)
        except Exception as e:  # noqa: BLE001
            errs.append(str(e))
    if errs:
        raise ActionError(";".join(errs))


@register("ARRAY_FOREACH", 2, variadic=True)
def _array_foreach(args, ctx):
    """ARRAY_FOREACH(arrayPath, subCommand) — nested actions execute
    with each element as the data root
    (reference: action/array/foreach.go:47-65)."""
    raise ActionError("ARRAY_FOREACH must be bound via build_action")


def build_array_foreach(command: list[Any]) -> BoundAction:
    array_arg = new_arg(command[1])
    nested = [build_action(c) for c in command[2:]]

    def run(args, ctx):
        arr = py_cast(array_arg.evaluate(ctx), "array")
        for elem in arr:
            sub_ctx = EventContext(attrs=ctx.attrs, data=elem, define=ctx.define)
            for a in nested:
                a.execute(sub_ctx)  # nested errors abort the foreach
        array_arg.set_value(ctx, arr)

    spec = ActionDef("ARRAY_FOREACH", 2, True, run)
    return BoundAction(spec, [array_arg], command)


# ---------------------------------------------------------------------------
# source adapters (reference: action/source/convert_to_mongodb_sink.go)
# ---------------------------------------------------------------------------

@register("DEBEZIUM_CONVERT_TO_MONGODB_SINK", 0, variadic=True)
def _debezium_to_mongo(args, ctx):
    """Maps a Debezium CDC op (attr iodebeziumop: r/c/u/d) to a MongoDB
    command document (reference: convert_to_mongodb_sink.go:33-113).
    Args are (keyName, keyValuePath) pairs identifying unique keys."""
    if len(args) % 2 != 0:
        raise ActionError("arg number invalid, key and keyValue must pair")
    op = py_cast(AttributeArg("$.iodebeziumop").evaluate(ctx), "string")
    data = ctx.data
    unique: dict[str, Any] = {}
    for i in range(0, len(args), 2):
        k = py_cast(args[i].evaluate(ctx), "string")
        unique[k] = args[i + 1].evaluate(ctx)
    if op in ("r", "c"):
        result = {"inserts": [data]}
    elif op == "u":
        if not isinstance(data, dict):
            raise ActionError("data only support map")
        for k in unique:
            data.pop(k, None)
        result = {"updates": [{"filter": unique, "update": {"$set": data}}]}
    elif op == "d":
        result = {"deletes": [{"filter": unique}]}
    else:
        raise ActionError(f"unknown op {op}")
    ctx.data = result


# ---------------------------------------------------------------------------
# user extensibility (reference: runtime.AddAction, runtime/action.go:28-41)
# ---------------------------------------------------------------------------

# names present at import time = the built-in action set; anything
# registered after (user code calling ``register``) is a CUSTOM action
# that must ship to executor Python workers explicitly — workers
# re-import this module fresh, so driver-side registrations alone
# would silently parse-skip there.
_BUILTIN_ACTIONS = frozenset(_REGISTRY)


def custom_actions() -> dict[str, ActionDef]:
    """Registry entries added after import (user-registered actions).
    transform_dataframe captures these into its closure so executors
    see them; the run callables must be cloudpickle-able (module-level
    or closure functions both work)."""
    return {k: v for k, v in _REGISTRY.items() if k not in _BUILTIN_ACTIONS}


def install_actions(defs: dict[str, ActionDef]) -> None:
    """Worker-side re-registration of shipped custom actions."""
    _REGISTRY.update(defs)

"""Static-pipeline compiler: transformer pipeline -> pure Column plan.

When the subscription declares a payload schema and every action
addresses static ``$.data.x[.y]`` paths, the whole pipeline compiles
to ONE ``select`` over a struct-typed data column — whole-stage
codegen, no Python at eval time. Anything outside the compilable
subset raises ``CompileFallback`` and the caller uses the interpreter
(transformer.py), which is always exact.

Semantics preserved from the reference:
- skip-on-error: an action whose computation NULLs out (bad cast,
  div-by-zero, bounds) keeps the OLD field value via
  ``coalesce(new, old)`` (pipeline/pipeline.go:41-52);
- CREATE requires target absent (runtime null), REPLACE requires it
  present (structs/*.go) — compiled as conditional field writes;
- MOVE/RENAME/DUPLICATE compile only when the destination is not in
  the schema (then the exists-check statically passes); otherwise
  fallback — the conditional drop isn't expressible per-row;
- absent-vs-null: ``to_json`` omits null fields by default, matching
  the interpreter's absent keys on the wire.

Compilable actions: CREATE REPLACE DELETE MOVE RENAME DUPLICATE,
MATH_ADD/SUB/MUL/DIV, UPPER/LOWER_CASE, ADD_PREFIX/SUFFIX,
CAPITALIZE_SENTENCE/WORD, REPLACE_STRING, REPLACE_WITH_REGEX,
CONDITION_IF, LENGTH, DATE_FORMAT, UNIX_TIME_FORMAT,
CONVERT_TIMEZONE, SPLIT_WITH_DELIMITER, SPLIT_FROM_START,
SPLIT_BETWEEN_POSITIONS, SPLIT_WITH_INTERVALS, JOIN (array<string>
sources), EXTRACT_BETWEEN_DELIMITERS, EXTRACT_BETWEEN_POSITIONS,
CHECK_CUSTOM_VALUES, EXTRACT_MISSING. Still interpreter-only:
UNFOLD_ARRAY (data-dependent keys), ARRAY_FOREACH / RENDER_ARRAY
(nested dynamic addressing), DEBEZIUM sink conversion, dynamic
``[*]`` paths.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from vanus_spark.functions import scalars as vf


class CompileFallback(Exception):
    """Pipeline not statically compilable — use the interpreter."""


class _UnknownRead(Exception):
    """Action reads a path that can never exist — the action always
    errors at runtime, so it compiles to a statically-skipped no-op
    (reference: RunArgs error => skip, pipeline.go:41-52)."""


def _is_data_path(arg: Any) -> bool:
    return isinstance(arg, str) and (arg == "$.data" or arg.startswith("$.data."))


def _path_of(arg: str) -> str:
    p = arg[7:]  # strip "$.data."
    if not p or "[" in p or "*" in p:
        raise CompileFallback(f"dynamic path {arg}")
    return p


def _schema_field(schema: T.StructType, path: str) -> T.DataType | None:
    cur: T.DataType = schema
    for part in path.split("."):
        if not isinstance(cur, T.StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def _null_struct(dtype: T.StructType) -> Column:
    """A typed struct literal with every field null — the
    materialization seed for writes into nil payloads."""
    return F.struct(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in dtype.fields]
    )


def _prune_schema(dtype: T.StructType, removed: set[str], prefix: str = "") -> T.StructType:
    """The declared struct type minus compiled DELETEs — the seed for
    a root coalesce that happens AFTER drops already evolved the
    column's type."""
    fields = []
    for f in dtype.fields:
        path = prefix + f.name
        if path in removed:
            continue
        ftype = f.dataType
        if isinstance(ftype, T.StructType):
            ftype = _prune_schema(ftype, removed, path + ".")
        fields.append(T.StructField(f.name, ftype, f.nullable))
    return T.StructType(fields)


class _State:
    """Tracks the evolving data struct column + the set of paths known
    to exist (schema fields + compiled CREATEs), the compiled define
    vars, and a coarse output-type kind per created path (for template
    stringification parity with the Go-style interpreter)."""

    def __init__(
        self, data: Column, schema: T.StructType, root_materialize: bool = False
    ):
        self.data = data
        self.schema = schema
        self.root_materialize = root_materialize
        self.created: set[str] = set()
        self.removed: set[str] = set()
        self._mat: set[str] = set()  # struct levels already null-coalesced
        self.kinds: dict[str, str] = {}  # created path -> string|double|long|array|any
        self.define: dict[str, Column] = {}
        self.define_kinds: dict[str, str] = {}

    def in_schema(self, path: str) -> bool:
        return _schema_field(self.schema, path) is not None

    def known(self, path: str) -> bool:
        return self.in_schema(path) or path in self.created

    def get(self, path: str) -> Column:
        if not self.known(path):
            raise _UnknownRead(path)
        c = self.data
        for part in path.split("."):
            c = c.getField(part)
        return c

    def set(self, path: str, value: Column, kind: str = "any") -> None:
        # Materialize null structs along the written path: py_set
        # creates the object when writing into a nil payload / through
        # a null nested struct — withField on a NULL struct silently
        # drops the write (caught by the MATH fuzz on nil-data rows).
        # The ROOT only coalesces in the nil-branch state
        # (root_materialize=True, seeded from the constant all-null
        # struct): wrapping the main chain's root in coalesce would
        # block nested-field pruning on every read (measured ~40% on
        # the compiled transform suite) — the main chain's rows with a
        # null root are exactly the rows the final select takes from
        # the nil branch instead. NESTED null intermediates are
        # materialized in both states (a valid payload can still lack
        # a nested object the write must create). Each level coalesces
        # at most once; the root seed reflects drops that happened
        # before the first write.
        if not self.root_materialize or "" in self._mat:
            base = self.data
        else:
            base = F.coalesce(
                self.data, _null_struct(_prune_schema(self.schema, self.removed))
            )
            self._mat.add("")
        parts = path.split(".")
        for i in range(1, len(parts)):
            prefix = ".".join(parts[:i])
            ptype = _schema_field(self.schema, prefix)
            if isinstance(ptype, T.StructType) and prefix not in self._mat:
                pfx = prefix + "."
                if any(
                    p.startswith(pfx) for p in self.created | self.removed
                ):
                    raise CompileFallback(
                        f"write through null-able struct {prefix} after "
                        f"its type evolved"
                    )
                cur = base
                for p in parts[:i]:
                    cur = cur.getField(p)
                base = base.withField(
                    prefix, F.coalesce(cur, _null_struct(ptype))
                )
                self._mat.add(prefix)
        self.data = base.withField(path, value)
        self.created.add(path)
        self.removed.discard(path)
        self.kinds[path] = kind

    def drop(self, path: str) -> None:
        # Spark cannot dropFields the LAST field of a struct
        # (CANNOT_DROP_ALL_FIELDS analysis error); the interpreter
        # leaves an empty object there. Statically detectable from
        # schema + created/removed bookkeeping -> interpreter path.
        parts = path.split(".")
        parent = ".".join(parts[:-1])
        if len(self._child_names(parent)) <= 1:
            raise CompileFallback(
                f"DELETE {path} would drop every field of its struct"
            )
        self.data = self.data.dropFields(path)
        self.created.discard(path)
        self.removed.add(path)
        self.kinds.pop(path, None)

    def _child_names(self, parent: str) -> set[str]:
        """Field names the EVOLVED struct at ``parent`` still has:
        declared schema fields, plus compiled CREATEs under it, minus
        compiled DELETEs."""
        if parent:
            ptype = _schema_field(self.schema, parent)
            names = (
                {f.name for f in ptype.fields}
                if isinstance(ptype, T.StructType)
                else set()
            )
            prefix = parent + "."
        else:
            names = {f.name for f in self.schema.fields}
            prefix = ""

        def direct(p: str) -> str | None:
            if not p.startswith(prefix):
                return None
            rest = p[len(prefix):]
            return rest if rest and "." not in rest else None

        for p in self.created:
            if (n := direct(p)) is not None:
                names.add(n)
        for p in self.removed:
            if (n := direct(p)) is not None and p not in self.created:
                names.discard(n)
        return names

    def kind_of(self, path: str) -> str:
        """Coarse type for template rendering: schema dtype when the
        path was never rewritten, else the recorded action kind."""
        if path in self.kinds:
            return self.kinds[path]
        dtype = _schema_field(self.schema, path)
        if dtype is None:
            return "any"
        if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
            return "double"
        if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
            return "array"
        if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return "long"
        if isinstance(dtype, T.BooleanType):
            return "bool"
        return "string"


def _value_arg(state: _State, arg: Any) -> Column:
    """Resolve a source arg: data path, constant, define var, or
    attribute (mirrors actions/interp.py new_arg)."""
    if _is_data_path(arg):
        return state.get(_path_of(arg))
    if isinstance(arg, str) and arg.startswith("$.") and not arg.startswith("$.data"):
        from vanus_spark.model import attribute_column

        return attribute_column(arg[2:].lower())
    if isinstance(arg, str) and arg.startswith("@."):
        return state.get(arg[2:])
    if _is_define_ref(arg):
        name = arg.strip()[1:-1]
        if name in state.define:
            return state.define[name]
        raise _UnknownRead(arg)  # undefined var -> action always errors
    return F.lit(arg)


def _is_define_ref(arg: Any) -> bool:
    if not isinstance(arg, str):
        return False
    s = arg.strip()
    return len(s) >= 3 and s[0] == "<" and s[-1] == ">" and s[1] != "@"


def _kind_of_arg(state: _State, arg: Any) -> str:
    """Coarse render-kind of a source arg (for template parity)."""
    if _is_data_path(arg):
        return state.kind_of(_path_of(arg))
    if isinstance(arg, str) and arg.startswith("@."):
        return state.kind_of(arg[2:])
    if _is_define_ref(arg):
        return state.define_kinds.get(arg.strip()[1:-1], "any")
    if isinstance(arg, str):
        return "string"
    if isinstance(arg, bool):
        return "bool"
    if isinstance(arg, float):
        return "double"
    if isinstance(arg, int):
        return "long"
    return "any"


def _num(state: _State, arg: Any) -> Column:
    """Numeric arg with the interpreter's py_cast(..., 'float')
    semantics, paying the strict ParseFloat screen ONLY where the
    value is actually an untyped string:

    - literal args fold through py_cast at COMPILE time (an invalid
      one makes the action error on every row => statically skipped);
    - schema/kind-typed numeric columns cast directly (a number never
      re-parses through its string form);
    - everything else goes through col_to_float, whose regex screen
      rejects what Go's parser rejects (a bare try_cast would trim
      whitespace)."""
    from vanus_spark.casts import CastError, col_to_float, py_cast

    if isinstance(arg, bool) or arg is None:
        raise _UnknownRead(arg)  # bool/nil -> cast error on every row
    if isinstance(arg, (int, float)):
        return F.lit(float(arg))
    if (
        isinstance(arg, str)
        and not arg.startswith(("$.", "@."))
        and not _is_define_ref(arg)
    ):
        try:
            return F.lit(py_cast(arg, "float"))
        except CastError:
            raise _UnknownRead(arg) from None
    col = _value_arg(state, arg)
    if _is_data_path(arg):
        path = _path_of(arg)
        kind = state.kinds.get(path)
        if kind in ("double", "long"):
            return col.cast("double")
        if kind is None:
            dtype = _schema_field(state.schema, path)
            if isinstance(
                dtype,
                (T.DoubleType, T.FloatType, T.DecimalType, T.LongType,
                 T.IntegerType, T.ShortType, T.ByteType),
            ):
                return col.cast("double")
    return col_to_float(col)


def _strict_long(c: Column) -> Column:
    """ParseInt-strict string->long (no whitespace trim) via the
    shared cast helper."""
    from vanus_spark.casts import col_to_int

    return col_to_int(c)


_STRING, _LONG, _DOUBLE = T.StringType(), T.LongType(), T.DoubleType()
_STRING_ARRAY = T.ArrayType(T.StringType())
_KIND_TYPES = {"string": _STRING, "long": _LONG, "double": _DOUBLE, "bool": T.BooleanType()}
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _type_at(state: _State, path: str) -> T.DataType | None:
    """The type the evolved struct holds at ``path``: the declared one
    until an action rewrites it, then the one its kind implies (None
    where the kind does not pin a type)."""
    if path in state.kinds:
        return _KIND_TYPES.get(state.kinds[path])
    return _schema_field(state.schema, path)


def _arg_type(state: _State, arg: Any) -> T.DataType | None:
    if _is_data_path(arg):
        return _type_at(state, _path_of(arg))
    if isinstance(arg, str) and arg.startswith("@."):
        return _type_at(state, arg[2:])
    return _KIND_TYPES.get(_kind_of_arg(state, arg))


def _renders_same(a: T.DataType | None, b: T.DataType | None) -> bool:
    """True when a value of either type keeps its JSON rendering once
    coerced to their common type: equal types, or two integral ones."""
    if a is None or b is None:
        return False
    if isinstance(a, _INTEGRAL) and isinstance(b, _INTEGRAL):
        return True
    return a.simpleString() == b.simpleString()


def _branch_type(state: _State, a: Any, b: Any) -> T.DataType | None:
    """The type an action writes when it picks one of two args."""
    ta, tb = _arg_type(state, a), _arg_type(state, b)
    return ta if _renders_same(ta, tb) else None


def _same_type_or_fallback(state: _State, path: str, new_type: T.DataType | None) -> None:
    """A field holds one type, but the interpreter writes the new value
    at its own type and keeps the old one at the old type: mixing the
    two in one Column coerces one to the other, which under ANSI either
    fails (CAST_INVALID_INPUT) or changes the rendering (12 -> 12.0)."""
    old_type = _type_at(state, path)
    if not _renders_same(old_type, new_type):
        raise CompileFallback(
            f"{path}: writes {new_type and new_type.simpleString()} over "
            f"{old_type and old_type.simpleString()}"
        )


_AS_OLD = object()


def _skip_on_null(
    state: _State, path: str, new: Column, new_type: Any = _AS_OLD
) -> Column:
    """error => keep old (or stay absent if never set), at its old
    type: a ``new_type`` (None = not pinned) that renders differently
    falls back. A registered column action that leaves it out vouches
    that it writes the old type."""
    if state.known(path):
        if new_type is not _AS_OLD:
            _same_type_or_fallback(state, path, new_type)
        return F.coalesce(new, state.get(path))
    return new


def compile_pipeline(
    pipeline: list[list[Any]], data_schema: T.StructType | str
) -> Callable[[DataFrame], DataFrame]:
    """Returns df -> df with ``data`` (JSON string) rewritten by the
    compiled pipeline. Raises CompileFallback when not compilable."""
    schema = (
        T._parse_datatype_string(data_schema)  # noqa: SLF001
        if isinstance(data_schema, str)
        else data_schema
    )
    if not isinstance(schema, T.StructType):
        raise CompileFallback("data schema must be a struct")

    def apply(df: DataFrame) -> DataFrame:
        # Two-step select: the parsed struct becomes a REAL column, so
        # the (non-cheap) from_json runs once per row no matter how
        # many actions read it — CollapseProject refuses to inline
        # multiply-referenced non-cheap exprs (SPARK-36718), which both
        # bounds the codegen'd plan size (compile time) and the
        # per-row parse count.
        staged = df.withColumn("__vs_parsed", F.from_json(F.col("data"), schema))
        state = _State(F.col("__vs_parsed"), schema)
        state_nil = _State(_null_struct(schema), schema, root_materialize=True)
        for cmd in pipeline:
            for st in (state, state_nil):
                try:
                    _compile_action(st, cmd)
                except _UnknownRead:
                    continue  # action can never succeed -> statically skipped
        # rows whose payload didn't parse to an object take the
        # nil-branch chain (constant-folded all-null seed): writes
        # into a nil payload create the object, py_set-style
        js_nil = F.to_json(state_nil.data)
        out = F.when(
            F.col("__vs_parsed").isNotNull(), F.to_json(state.data)
        ).otherwise(
            F.when(
                F.coalesce(js_nil == "{}", F.lit(True)), F.lit("null")
            ).otherwise(js_nil)
        )
        return staged.withColumn("data", out).drop("__vs_parsed")

    # dry-compile against an empty state to surface fallbacks eagerly
    probe = _State(F.from_json(F.lit("{}"), schema), schema)
    for cmd in pipeline:
        try:
            _compile_action(probe, cmd)
        except _UnknownRead:
            continue
    return apply


# ---------------------------------------------------------------------------
# user extensibility, compiled path (§2.12: the Column-builder half of
# the reference's AddAction registry — interp.register covers the
# interpreted path)
# ---------------------------------------------------------------------------

# name -> builder(state, args). A builder reads/writes the evolving
# data struct through the same _State API the built-ins use (get /
# set / known / kind_of); raising CompileFallback sends the pipeline
# to the interpreter.
_CUSTOM_COLUMN_ACTIONS: dict[str, Callable[["_State", list], None]] = {}


def register_column_action(name: str):
    """Register a pure-Column action builder for the static compiler.
    Pair it with an ``actions.interp.register`` entry of the same name
    so dynamic (schemaless) pipelines keep working."""

    def deco(fn: Callable[["_State", list], None]):
        _CUSTOM_COLUMN_ACTIONS[name.upper()] = fn
        return fn

    return deco


def _parse_render_array_template(text: str) -> tuple[list[str | None], list[str]]:
    """The interpreter's segment scan verbatim (interp.py
    _render_array): returns (segments with None placeholder markers,
    placeholder paths)."""
    paths: list[str] = []
    segments: list[str | None] = []
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
        segments.append(None)
        pos = y + 1
        if pos == len(text):
            break
    return segments, paths


def _compile_action(state: _State, cmd: list[Any]) -> None:  # noqa: PLR0912, PLR0915
    name = str(cmd[0]).upper()
    args = cmd[1:]

    if name == "CREATE":
        if not _is_data_path(args[0]):
            raise CompileFallback("CREATE on non-data target")
        path = _path_of(args[0])
        val = _value_arg(state, args[1])
        k = _kind_of_arg(state, args[1])
        if state.known(path):
            # runtime exists-check: only write where currently null
            _same_type_or_fallback(state, path, _arg_type(state, args[1]))
            old_k = state.kind_of(path)
            state.set(path, F.coalesce(state.get(path), val),
                      k if k == old_k else "any")
        else:
            state.set(path, val, k)
        return
    if name == "REPLACE":
        path = _path_of(args[0])
        if not state.known(path):
            return  # target never exists -> always skipped
        _same_type_or_fallback(state, path, _arg_type(state, args[1]))
        old = state.get(path)
        old_k, new_k = state.kind_of(path), _kind_of_arg(state, args[1])
        state.set(
            path,
            F.when(old.isNotNull(), _value_arg(state, args[1])).otherwise(old),
            new_k if new_k == old_k else "any",
        )
        return
    if name == "DELETE":
        path = _path_of(args[0])
        if state.known(path):
            state.drop(path)
        return
    if name in ("MOVE", "RENAME", "DUPLICATE"):
        src, dst = _path_of(args[0]), _path_of(args[1])
        if state.known(dst):
            raise CompileFallback(f"{name} destination {dst} may exist at runtime")
        state.set(dst, state.get(src), state.kind_of(src))
        if name in ("MOVE", "RENAME"):
            state.drop(src)
        return

    if name in ("MATH_ADD", "MATH_SUB", "MATH_MUL", "MATH_DIV"):
        path = _path_of(args[0])
        nums = [_num(state, a) for a in args[1:]]
        if name == "MATH_ADD":
            new = vf.math_add(*nums)
        elif name == "MATH_SUB":
            new = vf.math_sub(*nums)
        elif name == "MATH_MUL":
            new = vf.math_mul(*nums)
        else:
            new = vf.math_div(*nums)
        state.set(path, _skip_on_null(state, path, new, _DOUBLE), "double")
        return

    in_place_str = {
        "UPPER_CASE": lambda c, a: F.upper(c),
        "LOWER_CASE": lambda c, a: F.lower(c),
        "CAPITALIZE_SENTENCE": lambda c, a: vf.capitalize_sentence(c),
        "CAPITALIZE_WORD": lambda c, a: vf.capitalize_word(c),
        "ADD_PREFIX": lambda c, a: vf.add_prefix(c, str(a[0])),
        "ADD_SUFFIX": lambda c, a: vf.add_suffix(c, str(a[0])),
        "REPLACE_STRING": lambda c, a: vf.replace_string(c, str(a[0]), str(a[1])),
        "REPLACE_WITH_REGEX": lambda c, a: vf.replace_with_regex(c, str(a[0]), str(a[1])),
        "REPLACE_BETWEEN_POSITIONS": lambda c, a: vf.replace_between_positions(
            c, int(a[0]), int(a[1]), str(a[2])
        ),
        "REPLACE_BETWEEN_DELIMITERS": lambda c, a: vf.replace_between_delimiters(
            c, str(a[0]), str(a[1]), str(a[2])
        ),
        "DATE_FORMAT": lambda c, a: vf.date_format_php(
            F.to_timestamp(c), str(a[0]), str(a[1]) if len(a) > 1 else None
        ),
        "UNIX_TIME_FORMAT": lambda c, a: vf.unix_time_format(
            _strict_long(c), str(a[0]), str(a[1]) if len(a) > 1 else None
        ),
        "CONVERT_TIMEZONE": lambda c, a: vf.convert_timezone(
            c, str(a[0]), str(a[1]), str(a[2]) if len(a) > 2 else "Y-m-d H:i:s"
        ),
    }
    if name in in_place_str:
        path = _path_of(args[0])
        old = state.get(path).cast("string")
        try:
            new = in_place_str[name](old, args[1:])
        except ValueError as e:
            # e.g. a PHP date format whose adjacent tokens would merge
            # into one java.time field — interpreter-only semantics
            raise CompileFallback(f"{name}: {e}") from e
        state.set(path, _skip_on_null(state, path, new, _STRING), "string")
        return

    if name == "CONDITION_IF":
        path = _path_of(args[0])
        srcv = _value_arg(state, args[1])
        op = str(args[2])
        # interpreter parity: missing source -> arg error -> skip; for
        # ordered ops a non-numeric source -> cast error -> skip
        # (condition_if_action.go via RunArgs). NULL result = skipped.
        if op == "==":
            valid = srcv.isNotNull()
            src_col: Column = srcv
            cmp_col = _value_arg(state, args[3])
        else:
            # ordered ops: BOTH sides go through the interpreter's
            # strict float cast — via _num, which folds literals at
            # compile time (a non-numeric literal comparand would
            # otherwise constant-fold into an ANSI cast crash) and
            # skips the regex screen for schema-typed numbers
            src_col = _num(state, args[1])
            cmp_col = _num(state, args[3])
            valid = src_col.isNotNull() & cmp_col.isNotNull()
        new = F.when(
            valid,
            vf.condition_if(
                src_col,
                op,
                cmp_col,
                _value_arg(state, args[4]),
                _value_arg(state, args[5]),
            ),
        )
        k1, k2 = _kind_of_arg(state, args[4]), _kind_of_arg(state, args[5])
        new_type = _branch_type(state, args[4], args[5])
        state.set(
            path, _skip_on_null(state, path, new, new_type), k1 if k1 == k2 else "any"
        )
        return
    if name == "LENGTH":
        path = _path_of(args[0])
        src_path = _path_of(args[1]) if _is_data_path(args[1]) else None
        if src_path is None:
            raise CompileFallback("LENGTH of non-data arg")
        dtype = _schema_field(state.schema, src_path)
        src = state.get(src_path)
        if isinstance(dtype, (T.ArrayType, T.MapType)):
            new = F.size(src).cast("long")
        elif isinstance(dtype, T.StructType):
            # map length = number of present (non-null) keys
            present = [
                F.when(src.getField(f.name).isNotNull(), 1).otherwise(0)
                for f in dtype.fields
            ]
            total = present[0]
            for p in present[1:]:
                total = total + p
            new = F.when(src.isNotNull(), total.cast("long"))
        else:
            new = F.length(src.cast("string")).cast("long")
        state.set(path, _skip_on_null(state, path, new, _LONG), "long")
        return
    if name == "SPLIT_WITH_DELIMITER":
        src = state.get(_path_of(args[0])).cast("string")
        target = _path_of(args[2])
        state.set(
            target,
            _skip_on_null(
                state, target, vf.split_literal(src, str(args[1])), _STRING_ARRAY
            ),
            "array",
        )
        return
    if name == "SPLIT_FROM_START":
        target = _path_of(args[2])
        if state.known(target):
            # success writes array<string>, error keeps the old value —
            # a struct field can't hold both types, interpreter only
            raise CompileFallback(f"SPLIT_FROM_START target {target} may exist")
        src = state.get(_path_of(args[0])).cast("string")
        state.set(
            target,
            _skip_on_null(
                state, target, vf.split_from_start(src, int(args[1])), _STRING_ARRAY
            ),
            "array",
        )
        return
    if name == "SPLIT_BETWEEN_POSITIONS":
        target = _path_of(args[3])
        if state.known(target):
            # exists-check raises at runtime when present => conditional
            # skip; only the statically-absent case compiles (cf. MOVE)
            raise CompileFallback(f"SPLIT_BETWEEN_POSITIONS target {target} may exist")
        start, end = int(args[1]), int(args[2])
        if start < 0 or start >= end:
            return  # static arg error -> action always skipped
        src = state.get(_path_of(args[0])).cast("string")
        state.set(
            target,
            _skip_on_null(
                state,
                target,
                vf.split_between_positions(src, start, end),
                _STRING_ARRAY,
            ),
            "array",
        )
        return
    if name == "SPLIT_WITH_INTERVALS":
        target = _path_of(args[3])
        if state.known(target):
            raise CompileFallback(f"SPLIT_WITH_INTERVALS target {target} may exist")
        start, interval = int(args[1]), int(args[2])
        if start < 0 or interval < 1:
            return  # static arg error -> action always skipped
        src = state.get(_path_of(args[0])).cast("string")
        state.set(
            target,
            _skip_on_null(
                state,
                target,
                vf.split_with_intervals(src, start, interval),
                _STRING_ARRAY,
            ),
            "array",
        )
        return
    if name == "JOIN":
        target = _path_of(args[0])
        sep = str(args[1])
        arrs = []
        for a in args[2:]:
            if not _is_data_path(a):
                raise CompileFallback("JOIN of non-data array arg")
            p = _path_of(a)
            dtype = _schema_field(state.schema, p)
            elem_ok = isinstance(dtype, T.ArrayType) and isinstance(
                dtype.elementType, T.StringType
            )
            if not (elem_ok or state.kinds.get(p) == "array"):
                # non-string elements would need the Go stringification
                # lattice per element — interpreter territory
                raise CompileFallback(f"JOIN source {p} is not array<string>")
            arrs.append(state.get(p))
        new = vf.join_arrays(sep, *arrs)
        # any missing source array => arg error => skip (NULL propagates
        # through array_join/concat)
        state.set(target, _skip_on_null(state, target, new, _STRING), "string")
        return
    if name == "EXTRACT_BETWEEN_DELIMITERS":
        src = state.get(_path_of(args[0])).cast("string")
        target = _path_of(args[1])
        state.set(
            target,
            _skip_on_null(
                state,
                target,
                vf.extract_between_delimiters(src, str(args[2]), str(args[3])),
                _STRING,
            ),
            "string",
        )
        return
    if name == "EXTRACT_BETWEEN_POSITIONS":
        src = state.get(_path_of(args[0])).cast("string")
        target = _path_of(args[1])
        state.set(
            target,
            _skip_on_null(
                state,
                target,
                vf.extract_between_positions(src, int(args[2]), int(args[3])),
                _STRING,
            ),
            "string",
        )
        return
    if name == "CHECK_CUSTOM_VALUES":
        src = state.get(_path_of(args[0])).cast("string")
        target = _path_of(args[2])
        new = F.when(  # missing source -> arg error -> skip (NULL)
            src.isNotNull(),
            vf.check_custom_values(
                src, str(args[1]), _value_arg(state, args[3]), _value_arg(state, args[4])
            ),
        )
        k1, k2 = _kind_of_arg(state, args[3]), _kind_of_arg(state, args[4])
        new_type = _branch_type(state, args[3], args[4])
        state.set(
            target,
            _skip_on_null(state, target, new, new_type),
            k1 if k1 == k2 else "any",
        )
        return
    if name in ("EXTRACT_MISSING", "EXTRACT_MISSING_ACTION"):
        src = state.get(_path_of(args[0])).cast("string")
        target = _path_of(args[1])
        new = F.when(  # missing source -> arg error -> skip (NULL)
            src.isNotNull(), vf.extract_missing(src, str(args[2]), str(args[3]))
        )
        state.set(target, _skip_on_null(state, target, new, _STRING), "string")
        return

    if name == "RENDER_ARRAY":
        # RENDER_ARRAY(target, arrayPathPrefix, template): per-element
        # template render over prefix[:]-wildcard reads (interp.py
        # _render_array). Compiles when the prefix is a schema
        # array<struct> and every <@.path> placeholder addresses a
        # scalar field — one F.transform, concat of static segments
        # and casted fields. A missing field in ANY element errors the
        # whole action in the interpreter (wildcard read fails), so
        # the compiled form gates on forall(field non-null).
        target = _path_of(args[0])
        if state.known(target):
            raise CompileFallback(f"RENDER_ARRAY target {target} may exist")
        if not _is_data_path(args[1]):
            raise CompileFallback("RENDER_ARRAY non-data prefix")
        segments, ph_paths = _parse_render_array_template(str(args[2]))
        if not ph_paths:
            # no placeholders: unconditional 1-element static render —
            # the interpreter never even reads the array
            state.set(
                target,
                F.array(F.lit("".join(s for s in segments if s is not None))),
                "array",
            )
            return
        prefix = _path_of(args[1])
        dtype = _schema_field(state.schema, prefix)
        if not (
            isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, T.StructType)
        ):
            raise CompileFallback("RENDER_ARRAY needs a schema array<struct>")
        elem_schema = dtype.elementType
        fpaths = []
        for p in ph_paths:
            # raw path, no normalization — the interpreter concatenates
            # it verbatim, so anything but ".field" errors there too
            if not p.startswith("."):
                raise CompileFallback(f"RENDER_ARRAY placeholder {p!r} shape")
            fp = p[1:]
            fd = _schema_field(elem_schema, fp)
            if not isinstance(
                fd,
                (
                    T.StringType,
                    T.LongType,
                    T.IntegerType,
                    T.ShortType,
                    T.ByteType,
                    T.BooleanType,
                ),
            ):
                raise CompileFallback(f"RENDER_ARRAY field {fp} type not compilable")
            fpaths.append(fp)

        def _f(e: Column, fp: str) -> Column:
            cur = e
            for part in fp.split("."):
                cur = cur.getField(part)
            return cur

        def _render(e: Column) -> Column:
            parts: list[Column] = []
            j = 0
            for s in segments:
                if s is None:
                    parts.append(_f(e, fpaths[j]).cast("string"))
                    j += 1
                elif s:
                    parts.append(F.lit(s))
            return F.concat(*parts) if parts else F.lit("")

        arr = state.get(prefix)

        def _all_present(e: Column) -> Column:
            cond = _f(e, fpaths[0]).isNotNull()
            for fp in fpaths[1:]:
                cond = cond & _f(e, fp).isNotNull()
            return cond

        # empty array: the [:] wildcard read matches nothing and errors
        # in the interpreter -> action skipped, so gate on size > 0
        new = F.when(
            (F.size(arr) > 0) & F.forall(arr, _all_present),
            F.transform(arr, _render),
        )
        state.set(target, _skip_on_null(state, target, new, _STRING_ARRAY), "array")
        return

    if name == "ARRAY_FOREACH":
        # [ARRAY_FOREACH, arrayPath, subCmd]: the nested action runs
        # with each ELEMENT as its data root, and a nested error ABORTS
        # the foreach mid-array — elements before the failing one keep
        # their mutation, the rest stay untouched (interp.py
        # build_array_foreach: in-place dict mutation + abort).
        # Compilable subset: ONE nested pure-string in-place op (cannot
        # fail on a non-null source, keeps the element type stable) on
        # a string field of a schema array<struct>. The abort-prefix
        # semantics compile as: first invalid element's 1-based
        # position gates an indexed transform.
        _FOREACH_SAFE = {
            "UPPER_CASE",
            "LOWER_CASE",
            "CAPITALIZE_SENTENCE",
            "CAPITALIZE_WORD",
            "ADD_PREFIX",
            "ADD_SUFFIX",
            "REPLACE_STRING",
            "REPLACE_WITH_REGEX",
        }
        if (
            len(args) != 2
            or not _is_data_path(args[0])
            or not isinstance(args[1], list)
        ):
            raise CompileFallback("ARRAY_FOREACH shape not compilable")
        arr_path = _path_of(args[0])
        dtype = _schema_field(state.schema, arr_path)
        if not (
            isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, T.StructType)
        ):
            raise CompileFallback("ARRAY_FOREACH needs a schema array<struct>")
        elem_schema = dtype.elementType
        sub = args[1]
        sub_name = str(sub[0]).upper()
        if sub_name not in _FOREACH_SAFE or not _is_data_path(sub[1]):
            raise CompileFallback(
                f"ARRAY_FOREACH nested {sub_name} not in the compilable subset"
            )
        field_path = _path_of(sub[1])
        if not isinstance(_schema_field(elem_schema, field_path), T.StringType):
            raise CompileFallback("ARRAY_FOREACH nested target must be string")
        sub_args = sub[2:]
        op = in_place_str[sub_name]

        def _field(e: Column) -> Column:
            cur = e
            for part in field_path.split("."):
                cur = cur.getField(part)
            return cur

        arr = state.get(arr_path)
        first_bad = F.array_position(
            F.transform(arr, lambda e: _field(e).isNotNull()), F.lit(False)
        )
        new_arr = F.transform(
            arr,
            lambda e, i: F.when(
                (first_bad == 0) | (i < first_bad - 1),
                e.withField(field_path, op(_field(e), sub_args)),
            ).otherwise(e),
        )
        # missing array itself -> arg error -> whole action skipped
        state.set(
            arr_path, _skip_on_null(state, arr_path, new_arr, dtype), "array"
        )
        return

    custom = _CUSTOM_COLUMN_ACTIONS.get(name)
    if custom is not None:
        custom(state, args)
        return

    raise CompileFallback(f"action {name} not compilable")


# ---------------------------------------------------------------------------
# Full transformer compilation: define + pipeline + template
# ---------------------------------------------------------------------------

def compile_transformer(
    spec: dict[str, Any] | None, data_schema: T.StructType | str
) -> Callable[[DataFrame], DataFrame]:
    """Compile a FULL transformer spec — define vars, action pipeline,
    and output template — to pure Columns (reference semantics:
    server/trigger/transform/transformer.go:67-106).

    Semantics preserved beyond compile_pipeline:
    - define vars evaluate against the ORIGINAL event (define.go:30-76);
      evaluation errors leave the var nil;
    - template renders against the MUTATED data + original attributes,
      with define vars winning over model names (template.go:33-54);
    - JSON template sets datacontenttype application/json, text sets
      text/plain (transformer.go:96-104);
    - unparseable payload JSON -> transform_error=true, data passes
      through untouched (ErrTransformCode -> DLQ, transformer.go:70-74);
    - Go %v float formatting in string positions (6.0 -> "6") via a
      conditional integral cast — matching casts.py _format_float.

    The template reads the evolved struct DIRECTLY — no intermediate
    to_json/from_json round-trip between pipeline and template.
    Raises CompileFallback for anything outside the subset (dynamic
    paths, <time> model var, non-scalar text substitutions).
    """
    from vanus_spark.model import attribute_column
    from vanus_spark.templates import (
        compile_json_template_generic,
        parse_text_template,
        sniff_template_type,
    )

    spec = spec or {}
    define_spec = spec.get("define") or {}
    pipeline = spec.get("pipeline") or []
    tmpl = spec.get("template")
    if isinstance(tmpl, dict):
        template = tmpl.get("template")
        ttype = tmpl.get("type") or sniff_template_type(template or "")
    else:
        template = tmpl
        ttype = sniff_template_type(tmpl) if tmpl else None

    schema = (
        T._parse_datatype_string(data_schema)  # noqa: SLF001
        if isinstance(data_schema, str)
        else data_schema
    )
    if not isinstance(schema, T.StructType):
        raise CompileFallback("data schema must be a struct")

    # Parse with a corrupt-record sidecar: from_json never returns NULL
    # for malformed input (it yields an all-null struct), so the only
    # JVM-side malformed-JSON signal is columnNameOfCorruptRecord.
    schema_cr = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    # The parsed payload is referenced by every define var, action and
    # template slot — materialize it as ONE real column (two-step
    # select) instead of repeating the from_json subtree per reference.
    # CollapseProject keeps multiply-referenced non-cheap exprs
    # materialized (SPARK-36718): one parse per row, and a plan whose
    # codegen size stays O(actions), not O(actions × parse-tree).
    parsed = F.col("__vs_parsed")
    # A quoted "NaN" or "Infinity" is a string to the interpreter; in a
    # number field it is a retyped field like any other string there,
    # not a double that a later cast could fail on.
    parse_expr = F.from_json(
        F.col("data"),
        schema_cr,
        {"columnNameOfCorruptRecord": "_corrupt_record", "allowNonNumericNumbers": "false"},
    )
    # The sidecar is only for the bad_json flag (read off the raw parsed
    # column below); strip it from the struct the transformer state sees so
    # a bare <$.data> template slot / no-template re-serialize never leaks
    # "_corrupt_record" into rendered output (a payload of the literal
    # 'null' is corrupt-flagged but nilish-suppressed, so it WOULD leak).
    def build(initial_data: Column, root_materialize: bool):
        """Compile define vars + pipeline + template once against one
        initial data column. Called TWICE: the main chain runs on the
        raw parsed struct (pruning-friendly reads), and a nil-branch
        chain runs on the CONSTANT all-null seed — it mostly
        constant-folds, and the final select takes it only for rows
        whose payload is nil-ish (where the main chain's withField
        writes would null-propagate away)."""
        state = _State(initial_data, schema, root_materialize=root_materialize)
        for name, expr in define_spec.items():
            try:
                state.define[name] = _value_arg(state, expr)
                state.define_kinds[name] = _kind_of_arg(state, expr)
            except _UnknownRead:  # var statically never resolves -> nil
                state.define[name] = F.lit(None)
                state.define_kinds[name] = "string"
        for cmd in pipeline:
            try:
                _compile_action(state, cmd)
            except _UnknownRead:
                continue  # action can never succeed -> statically skipped

        def resolve_typed(inner: str) -> Column:
            if inner == "$.data" or inner == "data":
                return state.data
            if inner.startswith("$.data."):
                path = inner[7:]
                if "[" in path or "*" in path:
                    raise CompileFallback(f"dynamic template path {inner}")
                if not state.known(path):
                    return F.lit(None)
                return state.get(path)
            if inner == "time" or inner == "$.time":
                # isoformat()-rendered in the interpreter; not replicated
                raise CompileFallback("<time> model var")
            if inner.startswith("$."):
                return attribute_column(inner[2:])
            if inner in state.define:  # define wins over model
                return state.define[inner]
            return attribute_column(inner)

        def kind_of_inner(inner: str) -> str:
            if inner == "$.data" or inner == "data":
                return "array"
            if inner.startswith("$.data."):
                path = inner[7:]
                return state.kind_of(path) if state.known(path) else "string"
            if inner.startswith("$."):
                return "string"
            if inner in state.define_kinds:
                return state.define_kinds[inner]
            return "string"  # model attributes are strings

        def go_str(inner: str) -> Column:
            """String form matching py_cast(v, 'string') for scalars."""
            c = resolve_typed(inner)
            k = kind_of_inner(inner)
            if k == "double":
                # magnitude first: ANSI fails the cast of NaN, an
                # infinity or a double past the long range
                as_long = F.when(F.abs(c) < F.lit(1e15), c.cast("long"))
                return F.when(
                    c == as_long.cast("double"), as_long.cast("string")
                ).otherwise(c.cast("string"))
            if k in ("array", "any"):
                raise CompileFallback(f"non-scalar string substitution <{inner}>")
            return c.cast("string")

        if ttype == "text":
            cols = []
            for seg in parse_text_template(template):
                if seg.kind == "text":
                    cols.append(F.lit(seg.value))
                else:
                    cols.append(F.coalesce(go_str(seg.value), F.lit("")))
            r = F.concat(*cols) if cols else F.lit("")
        elif ttype == "json":
            r = compile_json_template_generic(template, resolve_typed, go_str)
        else:
            r = None
        return state, r

    state, rendered_main = build(
        parsed.dropFields("_corrupt_record"), root_materialize=False
    )
    state_nil, rendered_nil = build(_null_struct(schema), root_materialize=True)

    # nil-ish payloads parse to data=None in the interpreter (no error):
    # NULL, empty/whitespace, and the JSON literal "null" (which the
    # corrupt-record parse wrongly flags).
    trimmed = F.trim(F.col("data"))
    nilish = F.col("data").isNull() | (trimmed == "") | (trimmed == "null")
    if ttype is None:
        # no template: re-serialize mutated data. A nil payload whose
        # nil-branch struct stayed all-null (no action wrote into it)
        # renders "null" (the interpreter's json.dumps(None)); one an
        # action DID write into renders the created object, matching
        # py_set's create-on-write. to_json omits null fields, so
        # "{}" == "nothing was written".
        js_nil = F.to_json(state_nil.data)
        rendered = F.when(
            nilish,
            F.when(
                F.coalesce(js_nil == "{}", F.lit(True)), F.lit("null")
            ).otherwise(js_nil),
        ).otherwise(F.coalesce(F.to_json(state.data), F.lit("null")))
    else:
        rendered = F.when(nilish, rendered_nil).otherwise(rendered_main)

    bad_json = F.coalesce(
        parsed.getField("_corrupt_record").isNotNull() & ~nilish, F.lit(False)
    )
    # built once: every call of the compiled function reuses them
    cols = {
        "transform_error": bad_json,
        "data": F.when(bad_json, F.col("data")).otherwise(rendered),
    }
    if ttype is not None:
        dct = "application/json" if ttype == "json" else "text/plain"
        cols["datacontenttype"] = F.when(
            bad_json, F.col("datacontenttype")
        ).otherwise(F.lit(dct))

    def apply(df: DataFrame) -> DataFrame:
        staged = df.withColumn("__vs_parsed", parse_expr)
        return staged.withColumns(cols).drop("__vs_parsed")

    return apply

"""Vanus-semantic scalar functions as Spark Column expressions.

Each function reproduces the reference's transform-function semantics
(reference: pkg/transform/function/*.go) as a JVM-side Catalyst
expression — these are the hot-path implementations used by compiled
pipelines and the oracle queries. Deltas from naive Spark calls:

- ``split`` in Spark is regex-based; Vanus SPLIT_WITH_SEP is literal
  (strings.Split) -> we regex-quote the separator.
- Spark ``initcap`` lowercases the tail of each word; Vanus
  CAPITALIZE_WORD title-cases the first rune and leaves the tail.
- Spark ``/ 0`` yields NULL; Vanus MATH_DIV errors (action skipped) —
  the NULL result is the skip marker for compiled plans.
- Date formats use PHP-style tokens (d m Y y h H i s, backslash
  escape) (reference: pkg/transform/function/util/time.go:22-31).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# datetime: PHP token -> Spark (java.time) pattern
# ---------------------------------------------------------------------------

_PHP_TO_JAVA = {
    "d": "dd",
    "m": "MM",
    "Y": "yyyy",
    "y": "yy",
    "h": "hh",
    "H": "HH",
    "i": "mm",
    "s": "ss",
}


def php_format_to_java(fmt: str) -> str:
    """Convert the PHP-style token format to a java.time pattern
    (reference: pkg/transform/function/util/time.go:33-50).
    Unknown characters pass through as quoted literals.

    Raises ValueError when two ADJACENT tokens would merge into one
    java.time field: PHP renders each token independently ('dd' ->
    '0505', 'Yy' -> '202424'), but the concatenated java pattern
    ('dddd', 'yyyyyy') is a single wider field — silently different
    output, or a pattern java.time rejects outright. The compiler
    catches the error and falls back to the interpreter, which
    renders token-at-a-time and needs no such restriction."""
    out: list[str] = []
    lit: list[str] = []  # pending literal run (merged into ONE quote
    #                      pair — adjacent separate quotes would emit
    #                      '', which java.time renders as an apostrophe)
    last_pat = ""  # first letter of the previous emitted token

    def flush_lit() -> None:
        nonlocal last_pat
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()
            last_pat = ""

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "\\" and i + 1 < len(fmt):
            lit.append(fmt[i + 1])
            i += 2
            continue
        if ch in _PHP_TO_JAVA:
            pat = _PHP_TO_JAVA[ch]
            if not lit and last_pat == pat[0]:
                raise ValueError(
                    f"adjacent PHP tokens at {i} merge into one "
                    f"java.time field ({fmt!r})"
                )
            flush_lit()
            out.append(pat)
            last_pat = pat[0]
        elif ch.isalpha() or ch == "'":
            lit.append(ch)  # letters must be quoted or java.time eats them
        else:
            flush_lit()
            out.append(ch)
            last_pat = ""
        i += 1
    flush_lit()
    return "".join(out)


def date_format_php(ts: Column, fmt: str, tz: str | None = None) -> Column:
    """DATE_FORMAT: RFC3339 string (or timestamp) in, formatted string
    out, in tz (default UTC)
    (reference: pkg/transform/function/datatime_functions.go:29-49)."""
    t = F.to_timestamp(ts) if not isinstance(ts, Column) else ts
    t = ts.cast("timestamp") if isinstance(ts, Column) else t
    if tz:
        t = F.from_utc_timestamp(t, tz)
    return F.date_format(t, php_format_to_java(fmt))


def unix_time_format(sec: Column, fmt: str, tz: str | None = None) -> Column:
    """UNIX_TIME_FORMAT: epoch seconds in
    (reference: datatime_functions.go:50-69)."""
    t = F.timestamp_seconds(sec.cast("long"))
    if tz:
        t = F.from_utc_timestamp(t, tz)
    return F.date_format(t, php_format_to_java(fmt))


def convert_timezone(s: Column, from_tz: str, to_tz: str, fmt: str = "Y-m-d H:i:s") -> Column:
    """CONVERT_TIMEZONE: parse naive string in from_tz, render in to_tz
    (reference: datatime_functions.go:70-99)."""
    pattern = php_format_to_java(fmt)
    t = F.to_utc_timestamp(F.to_timestamp(s, pattern), from_tz)
    return F.date_format(F.from_utc_timestamp(t, to_tz), pattern)


# ---------------------------------------------------------------------------
# math (reference: math_functions.go — all float64)
# ---------------------------------------------------------------------------

def math_add(*cols: Column) -> Column:
    out = cols[0].cast("double")
    for c in cols[1:]:
        out = out + c.cast("double")
    return out


def math_sub(a: Column, b: Column) -> Column:
    return a.cast("double") - b.cast("double")


def math_mul(*cols: Column) -> Column:
    out = cols[0].cast("double")
    for c in cols[1:]:
        out = out * c.cast("double")
    return out


def math_div(a: Column, b: Column) -> Column:
    """Division by zero errors in the reference (action skipped);
    NULL is the compiled-plan skip marker. try_divide keeps that
    semantics under ANSI mode (Spark 4 default) too."""
    return F.try_divide(a.cast("double"), b.cast("double"))


# ---------------------------------------------------------------------------
# strings (reference: strings_functions.go, action/strings/*.go)
# ---------------------------------------------------------------------------

def add_prefix(c: Column, prefix: str | Column) -> Column:
    p = prefix if isinstance(prefix, Column) else F.lit(prefix)
    return F.concat(p, c)


def add_suffix(c: Column, suffix: str | Column) -> Column:
    s = suffix if isinstance(suffix, Column) else F.lit(suffix)
    return F.concat(c, s)


def split_literal(c: Column, sep: str, limit: int | None = None) -> Column:
    """SPLIT_WITH_SEP is a LITERAL split (Go strings.Split/SplitN).
    Spark split() is regex -> quote the separator with \\Q..\\E."""
    pat = "\\Q" + sep + "\\E"
    if limit is None:
        return F.split(c, pat)
    return F.split(c, pat, limit)


def split_from_start(c: Column, pos: int) -> Column:
    """[s[:pos], s[pos:]]; pos beyond end -> [s, ""]; pos<=0 error=>NULL
    (reference: strings_functions.go:169-187)."""
    if pos <= 0:
        return F.lit(None).cast("array<string>")
    # NULL source = arg error => whole result NULL (skip), never an
    # array of nulls (which _skip_on_null would treat as a write)
    return F.when(
        c.isNotNull(),
        F.array(F.substring(c, 1, pos), c.substr(F.lit(pos + 1), F.length(c))),
    )


def split_between_positions(c: Column, start: int, end: int) -> Column:
    """3-way split with the reference's boundary rules
    (reference: action/strings/split_between_positions.go:60-88)."""
    n = F.length(c)
    return (
        F.when(c.isNull(), F.lit(None).cast("array<string>"))
        .when(n <= start, F.array(c, F.lit(""), F.lit("")))
        .when(
            n < end,
            F.array(F.substring(c, 1, start), c.substr(F.lit(start + 1), n), F.lit("")),
        )
        .otherwise(
            F.array(
                F.substring(c, 1, start),
                F.substring(c, start + 1, end - start),
                c.substr(F.lit(end + 1), n),
            )
        )
    )


def split_with_intervals(c: Column, start: int, interval: int) -> Column:
    """[s[:start], s[start:start+interval], ...]; start beyond end ->
    [s] (reference: action/strings/split_with_intervals.go:48-80)."""
    n = F.length(c)
    chunk_starts = F.sequence(
        F.lit(start + 1), F.greatest(n, F.lit(start + 1)), F.lit(interval)
    )
    chunks = F.filter(
        F.transform(chunk_starts, lambda p: c.substr(p, F.lit(interval))),
        lambda s: F.length(s) > 0,
    )
    full = F.concat(F.array(F.substring(c, 1, start)), chunks)
    return (
        F.when(c.isNull(), F.lit(None).cast("array<string>"))
        .when(F.length(c) < start, F.array(c))
        .otherwise(full)
    )


def replace_string(c: Column, old: str, new: str) -> Column:
    """ReplaceAll, literal (reference: action/strings/replace_string.go)."""
    return F.replace(c, F.lit(old), F.lit(new))


def replace_with_regex(c: Column, pattern: str, replacement: str) -> Column:
    """RE2 in the reference vs Java regex here — dialects agree on the
    common surface; exotic constructs get the interpreter path."""
    return F.regexp_replace(c, pattern, replacement)


def replace_between_positions(c: Column, start: int, end: int, value: str) -> Column:
    """0-based, start<end<len, else error=skip (NULL here)
    (reference: strings_functions.go:87-107)."""
    if start < 0 or end < 0:
        # unguarded Go slice panic in the reference; error => skip
        return F.lit(None).cast("string")
    n = F.length(c)
    ok = (F.lit(start) < n) & (F.lit(end) < n) & (F.lit(start) < F.lit(end))
    return F.when(
        ok, F.concat(F.substring(c, 1, start), F.lit(value), c.substr(F.lit(end + 1), n))
    )


def replace_between_delimiters(c: Column, sd: str, ed: str, value: str) -> Column:
    """First-match replacement between delimiters; missing delimiter =>
    error (NULL) (reference: strings_functions.go:123-147).
    F.locate only takes a literal start position, so the second search
    runs on the tail substring instead."""
    start_idx = F.locate(sd, c)  # 1-based, 0 = absent
    tail = c.substr(start_idx + len(sd), F.length(c))  # after start delim
    end_rel = F.locate(ed, tail)  # 1-based within tail
    ok = (start_idx > 0) & (end_rel > 0)
    return F.when(
        ok,
        F.concat(
            F.substring(c, 1, start_idx - 1),
            F.lit(value),
            tail.substr(end_rel + len(ed), F.length(c)),
        ),
    )


def extract_between_delimiters(c: Column, sd: str, ed: str) -> Column:
    start_idx = F.locate(sd, c)
    tail = c.substr(start_idx + len(sd), F.length(c))
    end_rel = F.locate(ed, tail)
    ok = (start_idx > 0) & (end_rel > 0)
    return F.when(ok, tail.substr(F.lit(1), end_rel - 1))


def extract_between_positions(c: Column, start: int, end: int) -> Column:
    """1-based inclusive; bounds errors => NULL (skip)
    (reference: action/strings/extract_between_positions.go:48-72)."""
    n = F.length(c)
    ok = (F.lit(start) <= n) & (F.lit(start) > 0) & (F.lit(end) <= n) & (
        F.lit(start) <= F.lit(end)
    )
    return F.when(ok, F.substring(c, start, end - start + 1))


def extract_missing(c: Column, if_empty: str, if_not: str) -> Column:
    """'' (or missing) -> if_empty else if_not
    (reference: action/strings/extract_missing.go:52-65)."""
    return F.when(c.isNull() | (c == ""), F.lit(if_empty)).otherwise(F.lit(if_not))


def check_custom_values(c: Column, needle: str, if_contains, if_not) -> Column:
    t = if_contains if isinstance(if_contains, Column) else F.lit(if_contains)
    f = if_not if isinstance(if_not, Column) else F.lit(if_not)
    return F.when(c.contains(needle), t).otherwise(f)


def capitalize_sentence(c: Column) -> Column:
    """Upper first char only, tail untouched — NOT initcap
    (reference: strings_functions.go:108-122)."""
    return F.concat(F.upper(F.substring(c, 1, 1)), c.substr(F.lit(2), F.length(c)))


def capitalize_word(c: Column) -> Column:
    """Title-case the first char of each space-separated word, tail
    untouched (reference: strings_functions.go:148-168). Column path
    handles runs of single spaces exactly; other unicode whitespace
    goes through the interpreter."""
    words = F.split(c, " ", -1)
    capped = F.transform(
        words,
        lambda w: F.when(
            F.length(w) > 0,
            F.concat(F.upper(F.substring(w, 1, 1)), w.substr(F.lit(2), F.length(w))),
        ).otherwise(w),
    )
    return F.array_join(capped, " ")


def join_arrays(sep: str, *arrs: Column) -> Column:
    """JOIN: arrays joined with sep, groups joined with sep
    (reference: strings_functions.go:25-40)."""
    out = F.array_join(arrs[0], sep)
    for a in arrs[1:]:
        out = F.concat(out, F.lit(sep), F.array_join(a, sep))
    return out


def condition_if(source: Column, op: str, compare, true_val, false_val) -> Column:
    """CONDITION_IF: '==' compares as strings, ordered ops as floats
    (reference: action/condition/condition_if_action.go:46-116)."""
    tv = true_val if isinstance(true_val, Column) else F.lit(true_val)
    fv = false_val if isinstance(false_val, Column) else F.lit(false_val)
    cv = compare if isinstance(compare, Column) else F.lit(compare)
    if op == "==":
        cond = source.cast("string") == cv.cast("string")
    elif op == ">=":
        cond = source.cast("double") >= cv.cast("double")
    elif op == ">":
        cond = source.cast("double") > cv.cast("double")
    elif op == "<=":
        cond = source.cast("double") <= cv.cast("double")
    elif op == "<":
        cond = source.cast("double") < cv.cast("double")
    else:
        raise ValueError(f"condition_if: unsupported op {op}")
    return F.when(cond, tv).otherwise(fv)


def unfold_array(arr: Column, prefix: str, max_size: int) -> list[Column]:
    """UNFOLD_ARRAY: element i -> column '<prefix>-<i>'
    (reference: action/array/unfold_array.go:51-75). Static schema needs
    a max size; interpreter handles the dynamic case."""
    return [arr.getItem(i).alias(f"{prefix}-{i}") for i in range(max_size)]

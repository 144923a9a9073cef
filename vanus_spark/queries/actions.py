"""Transformer queries: the scalar and structural actions, output
templates, the cast lattice and whole transform pipelines."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from vanus_spark.queries.common import _cloudevents, _events, _t


def q_action_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    ev = _events(spark, sf_dir)
    denom = (F.col("event_id") % 4).cast("double")
    return ev.select(
        "event_id",
        F.round(vf.math_add(F.col("value"), F.lit(1), F.lit(2.5)), 6).alias("add_r"),
        F.round(vf.math_sub(F.col("value"), F.col("user_id")), 6).alias("sub_r"),
        F.round(vf.math_mul(F.col("value"), F.lit(100)), 6).alias("mul_r"),
        # div-by-zero => skip (NULL marks the skipped action)
        F.round(vf.math_div(F.col("value"), denom), 6).alias("div_r"),
    )


def q_action_strings_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    docs = _t(spark, sf_dir, "documents")
    src = F.substring("text", 1, 40)
    return docs.select(
        "doc_id",
        F.upper(src).alias("upper_r"),
        F.lower(src).alias("lower_r"),
        vf.capitalize_sentence(src).alias("cap_sentence"),
        vf.capitalize_word(src).alias("cap_word"),
        vf.add_prefix(src, "pre|").alias("prefixed"),
        vf.add_suffix(src, "|post").alias("suffixed"),
    )


def q_action_strings_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    ev = _events(spark, sf_dir)
    # props is '{"k": 87}' — a real delimiter-extraction target
    return ev.select(
        "event_id",
        vf.extract_between_delimiters(F.col("props"), ": ", "}").alias("k_str"),
        vf.extract_between_positions(F.col("props"), 2, 4).alias("pos_str"),
        vf.replace_between_delimiters(F.col("props"), "{", ":", "K").alias("repl_delim"),
        vf.replace_string(F.col("props"), '"', "").alias("no_quotes"),
        vf.check_custom_values(F.col("props"), '"k"', "has_k", "no_k").alias("check_r"),
        vf.extract_missing(F.col("props"), "EMPTY", "FULL").alias("missing_r"),
    )


def q_action_strings_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    docs = _t(spark, sf_dir, "documents")
    src = F.substring("text", 1, 30)
    # Array outputs are JSON-serialized: the driver's pandas-based canon
    # cannot hash list-typed cells (round-1 `unhashable type: 'list'`).
    return docs.select(
        "doc_id",
        F.to_json(vf.split_literal(src, " ")).alias("split_ws"),
        F.to_json(vf.split_from_start(src, 10)).alias("split_start"),
        F.to_json(vf.split_between_positions(src, 5, 10)).alias("split_between"),
        F.to_json(vf.split_with_intervals(src, 4, 7)).alias("split_intervals"),
    )


def q_action_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    li = _t(spark, sf_dir, "lineitem").limit(5000)
    epoch = F.unix_timestamp("l_shipdate")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        vf.date_format_php(F.col("l_shipdate"), "Y-m-d H:i:s").alias("fmt_r"),
        vf.date_format_php(F.col("l_shipdate"), "d/m/y").alias("fmt_dmy"),
        vf.unix_time_format(epoch, "Y-m-d").alias("unix_fmt"),
    )


def q_action_condition_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        vf.condition_if(F.col("value"), ">=", F.lit(100), "hi", "lo").alias("cond_r"),
        vf.condition_if(F.col("event_type"), "==", F.lit("error"), "E", "N").alias("cond_eq"),
        F.length("props").cast("long").alias("len_r"),
    )


def q_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.templates import compile_text_template

    ce = _cloudevents(spark, sf_dir)
    tmpl = compile_text_template("uid=<$.data.user_id> type=<type>!")
    return ce.select(F.col("id").cast("long").alias("event_id"), tmpl.alias("rendered"))


def q_cast_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.casts import col_to_bool, col_to_int, col_to_string

    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        col_to_int(k).alias("k_int"),
        F.col("value").cast("long").alias("value_trunc"),
        col_to_string(F.col("value")).alias("value_str"),
        col_to_bool(F.when(F.col("event_id") % 2 == 0, "true").otherwise("FALSE")).alias(
            "bool_r"
        ),
    )


def q_transform_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTERPRETED transformer (mapInPandas path) against a SQL
    oracle: MATH_MUL on value, CONDITION_IF flag, UPPER_CASE on a
    created attr-derived field."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    spec = {
        "pipeline": [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CONDITION_IF", "$.data.flag", "$.data.value", ">=", 5000, "hi", "lo"],
            ["DUPLICATE", "$.type", "$.data.etype"],
            ["UPPER_CASE", "$.data.etype"],
        ]
    }
    out = transform_dataframe(ce, spec)
    return out.where(~F.col("transform_error")).select(
        F.col("id").cast("long").alias("event_id"),
        F.round(F.get_json_object("data", "$.value").cast("double"), 6).alias("cents"),
        F.get_json_object("data", "$.flag").alias("flag"),
        F.get_json_object("data", "$.etype").alias("etype"),
    )


def q_transform_pipeline_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline as transform_pipeline_e2e's core but through the
    STATIC COLUMN COMPILER (plans/compiler.py) — zero Python at eval
    time; the e2e/compiled pair is the two-path equivalence gate."""
    from vanus_spark.plans import compile_pipeline

    ce = _cloudevents(spark, sf_dir)
    pipeline = [
        ["MATH_MUL", "$.data.value", "$.data.value", 100],
        ["CONDITION_IF", "$.data.flag", "$.data.value", ">=", 5000, "hi", "lo"],
    ]
    out = compile_pipeline(pipeline, "user_id long, value double, props struct<k: int>")(ce)
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.round(F.get_json_object("data", "$.value").cast("double"), 6).alias("cents"),
        F.get_json_object("data", "$.flag").alias("flag"),
    )


def q_transform_template_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL transformer spec — define vars + action pipeline + JSON
    output template — through the static compiler
    (plans/compiler.py compile_transformer): zero Python in the
    executed plan, no to_json/from_json round-trip between pipeline
    and template (reference: transformer.go:67-106, define.go:30-76).
    Gated against the interpreter in tests/test_compile_transformer.py
    and against DuckDB here. ``cstr`` exercises the Go %v float
    formatting (964.0 -> "964") in string position."""
    from vanus_spark.subscription import Subscription

    ce = _cloudevents(spark, sf_dir)
    sub = Subscription.from_spec(
        {
            "transformer": {
                "define": {"u": "$.data.user_id"},
                "pipeline": [
                    ["MATH_MUL", "$.data.value", "$.data.value", 100],
                    ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", 10000,
                     "gold", "basic"],
                ],
                "template": '{"uid":<u>,"cents":<$.data.value>,'
                            '"tier":"<$.data.tier>","cstr":"<$.data.value>",'
                            '"t":"<type>"}',
            }
        }
    )
    out = sub.apply(ce, data_schema="user_id long, value double, props struct<k: int>")
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.col("data").alias("payload"),
        F.col("datacontenttype").alias("content_type"),
    )


def q_action_render_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_FOREACH (nested action per element) + RENDER_ARRAY
    (per-element template) through the interpreter."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    with_arr = ce.withColumn(
        "data",
        F.to_json(
            F.struct(
                F.array(
                    F.struct(F.col("type").alias("n")),
                    F.struct(F.col("attributes").getItem("partitionkey").alias("n")),
                ).alias("users")
            )
        ),
    )
    spec = {
        "pipeline": [
            ["ARRAY_FOREACH", "$.data.users", ["UPPER_CASE", "$.data.n"]],
            ["RENDER_ARRAY", "$.data.tags", "$.data.users", "n=<@.n>;"],
        ]
    }
    out = transform_dataframe(with_arr, spec)
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.get_json_object("data", "$.users[0].n").alias("u0"),
        F.get_json_object("data", "$.users[1].n").alias("u1"),
        F.get_json_object("data", "$.tags[0]").alias("tag0"),
        F.get_json_object("data", "$.tags[1]").alias("tag1"),
    )


def q_action_structs_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct actions through the interpreter: CREATE / DUPLICATE /
    RENAME / MOVE / DELETE with create-must-not-exist semantics."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    spec = {
        "pipeline": [
            ["CREATE", "$.data.tag", "fresh"],
            ["CREATE", "$.data.tag", "overwritten"],      # key exists -> skipped
            ["DUPLICATE", "$.data.user_id", "$.data.uid_copy"],
            ["RENAME", "$.data.props", "$.data.p"],
            ["MOVE", "$.data.uid_copy", "$.data.meta.uid"],
            ["DELETE", "$.data.value"],
        ]
    }
    out = transform_dataframe(ce, spec)
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.get_json_object("data", "$.tag").alias("tag"),
        F.get_json_object("data", "$.meta.uid").cast("long").alias("meta_uid"),
        F.get_json_object("data", "$.p.k").cast("long").alias("p_k"),
        F.get_json_object("data", "$.value").alias("deleted_value"),
        F.get_json_object("data", "$.uid_copy").alias("moved_away"),
    )


def q_action_array_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array actions through the interpreter: SPLIT_WITH_DELIMITER ->
    UNFOLD_ARRAY -> LENGTH -> JOIN over the event_type characters."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    spec = {
        "define": {"t": "$.type"},
        "pipeline": [
            ["CREATE", "$.data.s", "<t>"],
            ["SPLIT_WITH_DELIMITER", "$.data.s", "u", "$.data.parts"],
            ["LENGTH", "$.data.n_parts", "$.data.parts"],
            ["UNFOLD_ARRAY", "$.data.parts", "$.data.part"],
            ["JOIN", "$.data.rejoined", "|", "$.data.parts"],
        ]
    }
    out = transform_dataframe(ce, spec)
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.get_json_object("data", "$.n_parts").cast("long").alias("n_parts"),
        F.get_json_object("data", "$.part-0").alias("part0"),
        F.get_json_object("data", "$.rejoined").alias("rejoined"),
    )


def q_action_regex_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vanus_spark.functions import scalars as vf

    docs = _t(spark, sf_dir, "documents")
    src = F.substring("text", 1, 24)
    # first3 is JSON-serialized: driver canon cannot hash list cells.
    return docs.select(
        "doc_id",
        vf.replace_with_regex(src, "[aeiou]", "_").alias("regex_r"),
        vf.replace_between_positions(src, 2, 6, "XX").alias("repl_pos"),
        F.to_json(F.slice(vf.split_literal(src, " "), 1, 3)).alias("first3"),
    )


def q_action_convert_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT_TIMEZONE default format Y-m-d H:i:s, UTC -> EST
    (reference: datatime_functions.go:70-99)."""
    from vanus_spark.functions import scalars as vf

    li = _t(spark, sf_dir, "lineitem").limit(5000)
    as_str = F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        vf.convert_timezone(as_str, "UTC", "EST").alias("est_r"),
        vf.convert_timezone(as_str, "UTC", "Asia/Shanghai").alias("cst_r"),
    )


def q_template_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON output template through the interpreter
    (reference: pkg/template/json)."""
    from vanus_spark.transformer import transform_dataframe

    ce = _cloudevents(spark, sf_dir)
    spec = {
        "define": {"u": "$.data.user_id"},
        "template": '{"uid":<u>,"etype":"<type>","k":<$.data.props.k>}',
    }
    out = transform_dataframe(ce, spec)
    return out.select(
        F.col("id").cast("long").alias("event_id"),
        F.col("data").alias("rendered"),
        F.col("datacontenttype").alias("content_type"),
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB twins of this family's queries, keyed by query name."""
    return {
        "action_math": """
            SELECT event_id,
                   round(value + 1 + 2.5, 6) AS add_r,
                   round(value - user_id, 6) AS sub_r,
                   round(value * 100, 6) AS mul_r,
                   CASE WHEN event_id % 4 = 0 THEN NULL
                        ELSE round(value / (event_id % 4), 6) END AS div_r
            FROM events
        """,
        "action_strings_case": """
            WITH s AS (SELECT doc_id, substr(text, 1, 40) AS src FROM documents)
            SELECT doc_id,
                   upper(src) AS upper_r,
                   lower(src) AS lower_r,
                   upper(src[1]) || src[2:] AS cap_sentence,
                   array_to_string(
                     list_transform(str_split(src, ' '),
                       w -> CASE WHEN length(w) > 0 THEN upper(w[1]) || w[2:] ELSE w END),
                     ' ') AS cap_word,
                   'pre|' || src AS prefixed,
                   src || '|post' AS suffixed
            FROM s
        """,
        "action_strings_extract": """
            SELECT event_id,
                   CASE WHEN strpos(props, ': ') > 0
                         AND strpos(substr(props, strpos(props, ': ') + 2), '}') > 0
                        THEN substr(props, strpos(props, ': ') + 2,
                                    strpos(substr(props, strpos(props, ': ') + 2), '}') - 1)
                        END AS k_str,
                   CASE WHEN length(props) >= 4 THEN substr(props, 2, 3) END AS pos_str,
                   CASE WHEN strpos(props, '{') > 0
                         AND strpos(substr(props, strpos(props, '{') + 1), ':') > 0
                        THEN substr(props, 1, strpos(props, '{') - 1) || 'K' ||
                             substr(props, strpos(props, '{') + 1 +
                                    strpos(substr(props, strpos(props, '{') + 1), ':'))
                        END AS repl_delim,
                   replace(props, '"', '') AS no_quotes,
                   CASE WHEN strpos(props, '"k"') > 0 THEN 'has_k' ELSE 'no_k' END AS check_r,
                   CASE WHEN props IS NULL OR props = '' THEN 'EMPTY' ELSE 'FULL' END
                     AS missing_r
            FROM events
        """,
        "action_strings_split": """
            WITH s AS (SELECT doc_id, substr(text, 1, 30) AS src FROM documents)
            SELECT doc_id,
                   to_json(str_split(src, ' '))::VARCHAR AS split_ws,
                   to_json([substr(src, 1, 10), substr(src, 11)])::VARCHAR
                     AS split_start,
                   to_json(CASE WHEN length(src) <= 5 THEN [src, '', '']
                        WHEN length(src) < 10 THEN [substr(src,1,5), substr(src,6), '']
                        ELSE [substr(src,1,5), substr(src,6,5), substr(src,11)]
                   END)::VARCHAR AS split_between,
                   to_json(CASE WHEN length(src) < 4 THEN [src]
                        ELSE list_prepend(substr(src, 1, 4),
                          list_filter(
                            list_transform(generate_series(5, greatest(length(src), 5), 7),
                                           p -> substr(src, p, 7)),
                            x -> length(x) > 0))
                   END)::VARCHAR AS split_intervals
            FROM s
        """,
        "action_datetime": """
            SELECT l_orderkey, l_linenumber,
                   strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS fmt_r,
                   strftime(l_shipdate, '%d/%m/%y') AS fmt_dmy,
                   strftime(to_timestamp(epoch(l_shipdate)), '%Y-%m-%d') AS unix_fmt
            FROM lineitem LIMIT 5000
        """,
        "action_condition_length": """
            SELECT event_id,
                   CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END AS cond_r,
                   CASE WHEN event_type = 'error' THEN 'E' ELSE 'N' END AS cond_eq,
                   length(props)::BIGINT AS len_r
            FROM events
        """,
        "template_render": """
            SELECT event_id,
                   'uid=' || user_id::VARCHAR || ' type=' || event_type || '!'
                     AS rendered
            FROM events
        """,
        "cast_lattice": """
            SELECT event_id,
                   json_extract_string(props, '$.k')::BIGINT AS k_int,
                   trunc(value)::BIGINT AS value_trunc,
                   CASE WHEN value = floor(value) AND abs(value) < 1e15
                        THEN trunc(value)::BIGINT::VARCHAR
                        ELSE value::VARCHAR END AS value_str,
                   CASE WHEN event_id % 2 = 0 THEN true ELSE false END AS bool_r
            FROM events
        """,
        "transform_pipeline_e2e": """
            SELECT event_id,
                   round(value * 100, 6) AS cents,
                   CASE WHEN value * 100 >= 5000 THEN 'hi' ELSE 'lo' END AS flag,
                   upper(event_type) AS etype
            FROM events
        """,
        "transform_pipeline_compiled": """
            SELECT event_id,
                   round(value * 100, 6) AS cents,
                   CASE WHEN value * 100 >= 5000 THEN 'hi' ELSE 'lo' END AS flag
            FROM events
        """,
        "action_render_foreach": """
            SELECT event_id,
                   upper(event_type) AS u0,
                   user_id::VARCHAR AS u1,
                   'n=' || upper(event_type) || ';' AS tag0,
                   'n=' || user_id::VARCHAR || ';' AS tag1
            FROM events
        """,
        "action_structs_e2e": """
            SELECT event_id,
                   'fresh' AS tag,
                   user_id AS meta_uid,
                   json_extract_string(props, '$.k')::BIGINT AS p_k,
                   NULL::VARCHAR AS deleted_value,
                   NULL::VARCHAR AS moved_away
            FROM events
        """,
        "action_array_e2e": """
            WITH s AS (SELECT event_id, str_split(event_type, 'u') AS parts FROM events)
            SELECT event_id,
                   len(parts)::BIGINT AS n_parts,
                   parts[1] AS part0,
                   array_to_string(parts, '|') AS rejoined
            FROM s
        """,
        "action_regex_splits": """
            WITH s AS (SELECT doc_id, substr(text, 1, 24) AS src FROM documents)
            SELECT doc_id,
                   regexp_replace(src, '[aeiou]', '_', 'g') AS regex_r,
                   CASE WHEN 2 < length(src) AND 6 < length(src)
                        THEN substr(src, 1, 2) || 'XX' || substr(src, 7)
                        END AS repl_pos,
                   to_json(str_split(src, ' ')[1:3])::VARCHAR AS first3
            FROM s
        """,
        "action_convert_timezone": """
            SELECT l_orderkey, l_linenumber,
                   strftime(l_shipdate - INTERVAL 5 HOUR, '%Y-%m-%d %H:%M:%S') AS est_r,
                   strftime(l_shipdate + INTERVAL 8 HOUR, '%Y-%m-%d %H:%M:%S') AS cst_r
            FROM lineitem LIMIT 5000
        """,
        "template_json": """
            SELECT event_id,
                   '{"uid":' || user_id::VARCHAR || ',"etype":"' || event_type
                     || '","k":' || json_extract_string(props, '$.k') || '}' AS rendered,
                   'application/json' AS content_type
            FROM events
        """,
        "transform_template_full": """
            SELECT event_id,
                   '{"uid":' || user_id::VARCHAR
                   || ',"cents":' || (value * 100)::VARCHAR
                   || ',"tier":"'
                   || (CASE WHEN value * 100 >= 10000 THEN 'gold' ELSE 'basic' END)
                   || '","cstr":"'
                   || (CASE WHEN value * 100 = trunc(value * 100)
                             AND abs(value * 100) < 1e15
                        THEN (value * 100)::BIGINT::VARCHAR
                        ELSE (value * 100)::VARCHAR END)
                   || '","t":"' || event_type || '"}' AS payload,
                   'application/json' AS content_type
            FROM events
        """,
    }

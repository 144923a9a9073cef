"""Delivery semantics: retry backoff, dead-letter routing, offset
commit, delayed events — as deterministic DataFrame transforms.

The reference implements these with timer eventbuses + a hierarchical
timing wheel + per-subscription goroutines; the observable semantics
(WHAT is delivered/retried/dead-lettered WHEN, and what offset is
committed) reduce to pure functions over (event, attempt, status,
batch_time), which is what this module exposes. The streaming runner
(streaming/runner.py) applies them per micro-batch; tests compare
logical schedules, no wall clock.

References:
- backoff: server/trigger/trigger/util.go:75-88 calDeliveryTime
- retriability: util.go:55-73 isShouldRetry (4xx no-retry except 429;
  transform error / ordered-mode failure straight to DLQ)
- retry write: trigger.go:455-526 (attempts+1, next delivery time,
  sub id, retry bus)
- DLQ write: trigger.go:528-562 (xvanussubid, xvanuslastdltime,
  xvanuslastdlerror, xvanusdlreason; max 32 attempts
  pkg/constants.go:32)
- offset commit: server/trigger/offset/offset.go:106-139
  (min unacked, else max acked + 1)
- delayed events: xvanusdeliverytime parked until due
  (proxy.go:207-231, timingwheel.go:303-322)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from vanus_spark.model import (
    ATTR_DELIVERY_TIME,
    ATTR_DL_REASON,
    ATTR_LAST_DL_ERROR,
    ATTR_LAST_DL_TIME,
    ATTR_RETRY_ATTEMPTS,
    ATTR_SUB_ID,
)

ERR_TRANSFORM_CODE = 1  # reference: trigger/util.go:56
ORDER_EVENT_CODE = -1


def backoff_seconds_col(attempts: Column) -> Column:
    """calDeliveryTime as a Column (reference: util.go:75-88):
    1s; 5(n-1)s for n=2,3; 30*2^(n-4)s for n=4..9; 3600s for n>=10."""
    a = attempts.cast("int")
    return (
        F.when(a >= 10, F.lit(3600))
        .when(a >= 4, (F.lit(30) * F.pow(F.lit(2.0), (a - 4).cast("double"))).cast("int"))
        .when(a >= 2, 5 * (a - 1))
        .otherwise(1)
    )


def backoff_seconds(attempts: int) -> int:
    if attempts >= 10:
        return 3600
    if attempts >= 4:
        return int(30 * 2 ** (attempts - 4))
    if attempts >= 2:
        return 5 * (attempts - 1)
    return 1


def should_retry_col(status: Column) -> Column:
    """isShouldRetry (reference: util.go:59-73). status is an int code:
    HTTP status, ERR_TRANSFORM_CODE, or ORDER_EVENT_CODE."""
    return (
        F.when(status == ERR_TRANSFORM_CODE, F.lit(False))
        .when(status == ORDER_EVENT_CODE, F.lit(False))
        .when((status >= 400) & (status < 500), status == 429)
        .otherwise(F.lit(True))
    )


def no_retry_reason_col(status: Column) -> Column:
    return (
        F.when(status == ERR_TRANSFORM_CODE, F.lit("TransformError"))
        .when(status == ORDER_EVENT_CODE, F.lit("OrderEvent"))
        .when(
            (status >= 400) & (status < 500) & (status != 429),
            F.concat(F.lit("Response"), status.cast("string")),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def _attempts_col() -> Column:
    return F.coalesce(
        F.col("attributes").getItem(ATTR_RETRY_ATTEMPTS).cast("int"), F.lit(0)
    )


def retriable_col(max_retry_attempts: int = 32, status_col: str = "status") -> Column:
    """True where a failed delivery re-enters pending, false where it
    is dead-lettered: the route split of ``route_failed_events``."""
    return should_retry_col(F.col(status_col)) & (_attempts_col() < max_retry_attempts)


def failed_event_columns(
    sub_id: str,
    now: Column,
    max_retry_attempts: int = 32,
    status_col: str = "status",
    error_col: str = "error",
) -> tuple[Column, Column, Column]:
    """(retriable, retry attributes, dead attributes) of a failed
    delivery as Columns over the envelope + ``status`` + ``error``, with
    the tick time read from ``now`` — so a caller that binds the time as
    a column builds them once rather than once per tick.

    Retry rows get attempts+1, next delivery time, sub id; dead rows get
    the four DLQ attributes (reference: trigger.go:455-562)."""
    status = F.col(status_col)
    attempts = _attempts_col()
    reason = F.coalesce(
        no_retry_reason_col(status),
        F.when(attempts >= max_retry_attempts, F.lit("MaxDeliveryAttemptExceeded")),
    )
    next_attempts = attempts + 1
    retry_attributes = F.map_concat(
        F.map_filter(
            F.col("attributes"),
            lambda k, _: ~k.isin(ATTR_RETRY_ATTEMPTS, ATTR_DELIVERY_TIME, ATTR_SUB_ID),
        ),
        F.create_map(
            F.lit(ATTR_RETRY_ATTEMPTS), next_attempts.cast("string"),
            F.lit(ATTR_DELIVERY_TIME),
            F.date_format(
                now + F.make_dt_interval(secs=backoff_seconds_col(next_attempts).cast("double")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ),
            F.lit(ATTR_SUB_ID), F.lit(sub_id),
        ),
    )
    dead_attributes = F.map_concat(
        F.map_filter(
            F.col("attributes"),
            lambda k, _: ~k.isin(
                ATTR_SUB_ID, ATTR_LAST_DL_TIME, ATTR_LAST_DL_ERROR, ATTR_DL_REASON,
                "xvanuseventbus",
            ),
        ),
        F.create_map(
            F.lit(ATTR_SUB_ID), F.lit(sub_id),
            F.lit(ATTR_LAST_DL_TIME), F.date_format(now, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit(ATTR_LAST_DL_ERROR), F.coalesce(F.col(error_col), F.lit("")),
            F.lit(ATTR_DL_REASON), reason,
        ),
    )
    return retriable_col(max_retry_attempts, status_col), retry_attributes, dead_attributes


def route_failed_events(
    failed: DataFrame,
    sub_id: str,
    batch_time,
    max_retry_attempts: int = 32,
    status_col: str = "status",
    error_col: str = "error",
) -> tuple[DataFrame, DataFrame]:
    """Split failed deliveries into (retry_df, dead_df)
    (reference: trigger.go:455-488 writeFailEvent).

    ``failed`` carries the envelope + an int ``status`` and string
    ``error``; the attributes are ``failed_event_columns``'. Pure column
    ops — the route split is two filters over one cached batch, no
    shuffle.
    """
    retriable, retry_attributes, dead_attributes = failed_event_columns(
        sub_id, F.lit(batch_time).cast("timestamp"), max_retry_attempts, status_col, error_col
    )
    retry_df = failed.where(retriable).withColumn("attributes", retry_attributes)
    dead_df = failed.where(~retriable).withColumn("attributes", dead_attributes)
    return retry_df.drop(status_col, error_col), dead_df.drop(status_col, error_col)


def refilter_retry_events(
    retry: DataFrame, sub_id: str, filter_pred: Column
) -> DataFrame:
    """Retry-bus re-filter: redelivered events must match the
    subscription id AND re-pass the subscription's filter
    (reference: server/trigger/trigger/trigger.go:256-302)."""
    return retry.where(
        (F.col("attributes").getItem(ATTR_SUB_ID) == sub_id)
        & F.coalesce(filter_pred, F.lit(False))
    )


def resend_dead_letter(dead: DataFrame) -> DataFrame:
    """ResendDeadLetterEvent strips the DLQ attrs and re-appends
    (reference: server/gateway/proxy/deadletter.go:156-263)."""
    return dead.withColumn(
        "attributes",
        F.map_filter(
            F.col("attributes"),
            lambda k, _: ~k.isin(
                ATTR_LAST_DL_TIME, ATTR_LAST_DL_ERROR, ATTR_DL_REASON, ATTR_RETRY_ATTEMPTS
            ),
        ),
    )


def split_due_events(pending: DataFrame, batch_time, ts_col: str = "due_ts") -> tuple[DataFrame, DataFrame]:
    """Timing-wheel replacement: (due, still_pending) by batch time
    (reference semantics: delivered in first tick >= deliverytime,
    timingwheel.go:303-322)."""
    due = pending.where(F.col(ts_col) <= F.lit(batch_time).cast("timestamp"))
    rest = pending.where(F.col(ts_col) > F.lit(batch_time).cast("timestamp"))
    return due, rest


def committed_offset(received_offsets: list[int], acked: set[int]) -> int:
    """Offset-commit rule: min unacked, else max received + 1
    (reference: offset/offset.go:106-139). Driver-side helper for the
    per-(subscription, eventlog) tracker."""
    unacked = [o for o in received_offsets if o not in acked]
    if unacked:
        return min(unacked)
    return max(received_offsets) + 1 if received_offsets else 0


def committed_offsets_df(received: DataFrame) -> DataFrame:
    """Distributed variant: ``received(eventlog, offset, acked)`` ->
    per-eventlog committed offset (same rule, partial-agg friendly)."""
    return received.groupBy("eventlog").agg(
        F.coalesce(
            F.min(F.when(~F.col("acked"), F.col("offset"))),
            F.max("offset") + 1,
        ).alias("committed_offset")
    )

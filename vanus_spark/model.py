"""CloudEvents envelope data model.

Reference semantics (vanus-labs/vanus):
- The single record type is a CloudEvent: required attributes
  ``id, source, specversion, type`` plus optional/extension attributes
  and a payload (in practice JSON)
  (reference: proto/vanus/core/cloudevents/cloudevents.proto:38-73).
- Extension attribute names must be lowercase alphanumeric, len 1..20
  (reference: pkg/event.go:17-32).
- The global event address is 16 bytes: big-endian (eventlog_id u64,
  offset u64), base64-encoded
  (reference: server/gateway/proxy/proxy.go:887-900 decodeEventID).

Spark mapping: one fixed envelope StructType; attributes are a
MAP<STRING,STRING> (CloudEvents attrs are stringly-typed on the wire);
payload is a JSON string column. An eventbus is a DataFrame with this
schema plus ``(eventlog, offset)`` addressing columns.
"""

from __future__ import annotations

import base64
import re
import struct

from pyspark.sql import DataFrame, functions as F, types as T

# Envelope schema: every eventbus DataFrame carries these columns.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("specversion", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("datacontenttype", T.StringType(), True),
        T.StructField("dataschema", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("data", T.StringType(), True),  # JSON payload
    ]
)

# CloudEvents spec (context) attributes that live as top-level envelope
# columns rather than in the extension-attribute map.
SPEC_ATTRIBUTES = frozenset(
    {"id", "source", "specversion", "type", "time", "datacontenttype", "dataschema", "subject"}
)

_ATTR_NAME_RE = re.compile(r"^[a-z0-9]{1,20}$")

# Reserved vanus extension attributes (reference: pkg/constants.go:20-32).
ATTR_EVENTBUS = "xvanuseventbus"
ATTR_DELIVERY_TIME = "xvanusdeliverytime"
ATTR_RETRY_ATTEMPTS = "xvanusretryattempts"
ATTR_SUB_ID = "xvanussubid"
ATTR_LAST_DL_TIME = "xvanuslastdltime"
ATTR_LAST_DL_ERROR = "xvanuslastdlerror"
ATTR_DL_REASON = "xvanusdlreason"


def validate_extension_attr_name(name: str) -> bool:
    """Extension attr names: lowercase alnum, 1..20 chars
    (reference: pkg/event.go:17-32)."""
    return bool(_ATTR_NAME_RE.match(name))


def encode_event_id(eventlog_id: int, offset: int) -> str:
    """base64(16 bytes big-endian (eventlog u64, offset u64))
    (reference: server/gateway/proxy/proxy.go:887-900)."""
    return base64.b64encode(struct.pack(">QQ", eventlog_id, offset)).decode("ascii")


def decode_event_id(event_id: str) -> tuple[int, int]:
    raw = base64.b64decode(event_id)
    if len(raw) != 16:
        raise ValueError(f"event id must decode to 16 bytes, got {len(raw)}")
    return struct.unpack(">QQ", raw)


def attribute_column(key: str) -> F.Column:
    """Resolve a CloudEvents attribute name to an envelope Column.

    Spec attributes are top-level columns; anything else is looked up
    in the extension-attribute map
    (reference: server/trigger/util/event.go:31 LookupAttribute).
    ``time`` is stringified RFC3339 as the wire format would be.
    """
    if key == "time":
        return F.date_format(
            F.col("time"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
    if key in SPEC_ATTRIBUTES:
        return F.col(key)
    return F.col("attributes").getItem(key)


# The envelope columns of events_to_cloudevents after ``source``, which
# is a parameter and so goes in as a literal Column, not SQL text.
_ENVELOPE_REST = (
    "'1.0' AS specversion",
    "event_type AS type",
    "ts AS time",
    "'application/json' AS datacontenttype",
    "CAST(NULL AS STRING) AS dataschema",
    "CAST(NULL AS STRING) AS subject",
    "map('partitionkey', CAST(user_id AS STRING)) AS attributes",
    "to_json(struct(user_id, value, from_json(props, 'k INT') AS props)) AS data",
)


def events_to_cloudevents(events: DataFrame, source: str = "/test/source") -> DataFrame:
    """Map the driver's ``events`` table into the CloudEvents envelope.

    This is the canonical fixture mapping (FIXTURES.md §1): the raw
    columns become the JSON payload; ``user_id`` doubles as a partition
    key extension attribute. One projection of SQL expressions: each
    Column built through the Column API costs its own py4j trips.
    """
    return events.select(
        F.expr("CAST(event_id AS STRING) AS id"),
        F.lit(source).alias("source"),
        *(F.expr(e) for e in _ENVELOPE_REST),
    )

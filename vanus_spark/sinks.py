"""FaaS and gRPC sink adapters for the delivery loop.

Reference clients (server/trigger/client/):
- ``lambda.go:33-80``    — AWS Lambda Invoke with the JSON-marshaled
  CloudEvent as payload; one event per call.
- ``gcloud_functions.go:36-88`` — POST the JSON CloudEvent to the
  function URL with an ID-token HTTP client; one event per call.
- ``grpc.go:29-86``      — batch Send of proto CloudEvents over a
  lazily-dialed channel.
- ``interface.go:38-66`` — error model: HTTP-ish status passthrough,
  600 (errUnknown) for transport errors, 601 (errDeliveryTimeout) for
  deadline exceeded. Both 6xx codes are RETRIABLE in the router
  (delivery.should_retry_col), matching isShouldRetry.

Each adapter is a ``sink_fn`` factory: rows -> per-row int statuses,
wired for DeliveryLoop. The network client is an injectable
``transport`` callable — the seam where boto3 / google-auth / grpcio
plug in (none of which are in this image, so the default transports
are import-gated); tests inject fakes and the full retry/DLQ routing
is exercised end-to-end either way. Adapters are picklable as long as
the injected transport is (they ship to executors).
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Any, Callable

ERR_UNKNOWN = 600  # reference: interface.go:63 errUnknown
ERR_DELIVERY_TIMEOUT = 601  # reference: interface.go:64 errDeliveryTimeout

# transport signatures
LambdaTransport = Callable[[str, bytes], int]  # (arn, payload) -> status
HttpTransport = Callable[[str, bytes], int]  # (url, payload) -> status
GrpcTransport = Callable[[str, list[bytes]], int]  # (target, batch) -> status


def event_row_to_cloudevent_json(row: dict[str, Any]) -> str:
    """Structured-mode CloudEvent JSON of an envelope row — the
    event.MarshalJSON() the reference sends to FaaS targets. JSON
    payloads embed as JSON values; extension attributes flatten to
    top-level members (CE JSON format §3)."""
    ev: dict[str, Any] = {
        "specversion": row.get("specversion") or "1.0",
        "id": row.get("id"),
        "source": row.get("source"),
        "type": row.get("type"),
    }
    for k in ("datacontenttype", "dataschema", "subject"):
        if row.get(k):
            ev[k] = row[k]
    t = row.get("time")
    if t is not None:
        if hasattr(t, "isoformat"):
            # Normalize to UTC: tz-aware datetimes convert (naive ones were
            # collected under the session's UTC timezone — see get_spark);
            # render RFC3339 with a single 'Z', never '...+00:00Z'.
            if getattr(t, "tzinfo", None) is not None:
                t = t.astimezone(_dt.timezone.utc)
            s = t.isoformat()
            if s.endswith("+00:00"):
                s = s[:-6]
            if "." not in s:
                # whole-second timestamps: force the 6-digit fraction
                # so the rendering is uniform (isoformat omits it when
                # microsecond == 0; RFC3339 allows both, but a single
                # shape keeps downstream parsers and the oracle exact)
                s += ".000000"
            ev["time"] = s + "Z"
        else:
            ev["time"] = str(t)
    for k, v in (row.get("attributes") or {}).items():
        if v is not None:
            ev[k] = v
    data = row.get("data")
    if data is not None:
        if "json" in (row.get("datacontenttype") or "application/json"):
            try:
                ev["data"] = json.loads(data)
            except (json.JSONDecodeError, TypeError):
                ev["data"] = data
        else:
            ev["data"] = data
    return json.dumps(ev, ensure_ascii=False, separators=(",", ":"))


def _guard(call: Callable[[], int]) -> int:
    """Error model of interface.go:38-66: timeout -> 601, any other
    transport failure -> 600, otherwise the returned status."""
    try:
        return int(call())
    except TimeoutError:
        return ERR_DELIVERY_TIMEOUT
    except Exception:  # noqa: BLE001
        return ERR_UNKNOWN


def aws_lambda_sink(
    arn: str,
    access_key_id: str = "",
    secret_access_key: str = "",
    transport: LambdaTransport | None = None,
) -> Callable[[list[dict[str, Any]]], list[int]]:
    """AWS Lambda sink (reference: lambda.go:33-80): per-event Invoke
    with the CloudEvent JSON payload. The default transport needs
    boto3 (not in this image) — inject ``transport`` otherwise."""
    if transport is None:
        transport = _default_lambda_transport(arn, access_key_id, secret_access_key)

    def sink(rows: list[dict[str, Any]]) -> list[int]:
        return [
            _guard(lambda r=r: transport(arn, event_row_to_cloudevent_json(r).encode()))
            for r in rows
        ]

    return sink


def _default_lambda_transport(
    arn: str, access_key_id: str, secret_access_key: str
) -> LambdaTransport:
    try:
        import boto3  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "aws_lambda_sink default transport needs boto3 (not in this "
            "image); inject transport=(arn, payload) -> status"
        ) from e

    def transport(arn_str: str, payload: bytes) -> int:
        import boto3

        region = arn_str.split(":")[3] if arn_str.count(":") >= 4 else None
        client = boto3.client(
            "lambda",
            region_name=region,
            aws_access_key_id=access_key_id,
            aws_secret_access_key=secret_access_key,
        )
        resp = client.invoke(FunctionName=arn_str, Payload=payload)
        return int(resp["StatusCode"])

    return transport


def gcloud_functions_sink(
    url: str,
    credential_json: str = "",
    transport: HttpTransport | None = None,
    timeout_s: float = 5.0,
) -> Callable[[list[dict[str, Any]]], list[int]]:
    """Google Cloud Functions sink (reference:
    gcloud_functions.go:36-88): per-event POST of the CloudEvent JSON.
    The reference authenticates with an ID-token client from
    ``credential_json``; the default transport here is a plain POST
    (gated on ``requests``) — inject ``transport`` to add auth."""
    if transport is None:
        transport = _default_http_post_transport(timeout_s)

    def sink(rows: list[dict[str, Any]]) -> list[int]:
        return [
            _guard(lambda r=r: transport(url, event_row_to_cloudevent_json(r).encode()))
            for r in rows
        ]

    return sink


def _default_http_post_transport(timeout_s: float) -> HttpTransport:
    try:
        import requests  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "gcloud_functions_sink default transport needs 'requests' "
            "(not in this image); inject transport=(url, payload) -> status"
        ) from e

    def transport(url: str, payload: bytes) -> int:
        import requests

        resp = requests.post(
            url,
            data=payload,
            headers={"Content-Type": "application/json"},
            timeout=timeout_s,
        )
        return resp.status_code

    return transport


def grpc_batched_sink(
    target: str,
    transport: GrpcTransport | None = None,
    batch_size: int = 32,
) -> Callable[[list[dict[str, Any]]], list[int]]:
    """gRPC batched sink (reference: grpc.go:64-86): events go out in
    CloudEventBatch chunks of ``batch_size`` (the reference's batcher
    feeds 32-event batches, trigger.go:594-643); ONE status per chunk
    fans back to every event in it. Default transport needs grpcio +
    generated stubs — inject ``transport`` otherwise."""
    if transport is None:
        raise NotImplementedError(
            "grpc_batched_sink needs an injected transport=(target, "
            "batch: list[bytes]) -> status (grpcio + vanus proto stubs "
            "are not in this image)"
        )

    def sink(rows: list[dict[str, Any]]) -> list[int]:
        statuses: list[int] = []
        for i in range(0, len(rows), batch_size):
            chunk = rows[i : i + batch_size]
            payloads = [
                event_row_to_cloudevent_json(r).encode() for r in chunk
            ]
            status = _guard(lambda p=payloads: transport(target, p))
            statuses.extend([status] * len(chunk))
        return statuses

    return sink

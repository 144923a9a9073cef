"""Authentication + RBAC authorization (control plane).

Faithful port of the reference's token auth and role-based access
control (/root/reference/pkg/authentication/authentication.go,
/root/reference/pkg/authorization/{role,action,authorization}.go):

- resources: cluster / namespace / eventbus / subscription
- built-in roles: clusterAdmin, admin, edit, view, read, write
- resolution: clusterAdmin anywhere -> allow; else bindings on the
  EXACT resource id; else escalate eventbus/subscription to their
  OWNING NAMESPACE id and check namespace-scoped bindings
  (authorization.go:41-77).

Reference quirk reproduced deliberately (role.go:72-81): the
eventbus-{edit,view,read,write} and subscription-{edit,view} role
keys are all declared as aliases of the corresponding ADMIN key, so
the action table only ever has "eventbus-admin" / "subscription-admin"
entries and a binding with role=edit/view/read/write DIRECTLY on an
eventbus or subscription grants nothing — such users get access only
through namespace-level roles. A faithful port keeps parity with the
deployed behavior rather than the evident intent.

Two surfaces:
- ``Authorizer`` — per-request policy evaluation (the gateway path);
- ``authorize_requests`` — set-based batch authorization over a
  requests DataFrame (audit-log / backfill scale): role bindings and
  the action table broadcast, decisions via three joins (direct,
  namespace-escalated, clusterAdmin) — no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vanus_spark.session import local_frame

RESOURCE_KINDS = ("cluster", "namespace", "eventbus", "subscription")
ROLES = ("clusterAdmin", "admin", "edit", "view", "read", "write")

# builtInRole, constructed exactly like role.go's init(): each
# addActionForRole line below mirrors one reference line, with the
# alias collapse (eventbusEdit == ("eventbus", "admin"), etc.).
_NS_ADMIN = ("namespace", "admin")
_NS_EDIT = ("namespace", "edit")
_NS_VIEW = ("namespace", "view")
_EB_ADMIN = ("eventbus", "admin")
_SUB_ADMIN = ("subscription", "admin")

ROLE_ACTIONS: dict[tuple[str, str], set[str]] = {}


def _add(action: str, *keys: tuple[str, str]) -> None:
    for k in keys:
        ROLE_ACTIONS.setdefault(k, set()).add(action)


_add("namespace:get", _NS_ADMIN, _NS_EDIT, _NS_VIEW)
_add("namespace:grant", _NS_ADMIN)
_add("namespace:revoke", _NS_ADMIN)
_add("eventbus:create", _NS_ADMIN, _NS_EDIT, _EB_ADMIN)
_add("eventbus:delete", _NS_ADMIN, _NS_EDIT)
_add("eventbus:grant", _NS_ADMIN, _NS_EDIT, _EB_ADMIN)
_add("eventbus:revoke", _NS_ADMIN, _NS_EDIT, _EB_ADMIN)
_add("eventbus:update", _NS_ADMIN, _NS_EDIT, _EB_ADMIN, _EB_ADMIN)
_add("eventbus:get", _NS_ADMIN, _NS_EDIT, _NS_VIEW, _EB_ADMIN)
_add("eventbus:read", _NS_ADMIN, _NS_EDIT, _EB_ADMIN)
_add("eventbus:write", _NS_ADMIN, _NS_EDIT, _EB_ADMIN)
_add("subscription:create", _NS_ADMIN, _NS_EDIT, _SUB_ADMIN)
_add("subscription:delete", _NS_ADMIN, _NS_EDIT)
_add("subscription:grant", _NS_ADMIN, _NS_EDIT, _SUB_ADMIN)
_add("subscription:revoke", _NS_ADMIN, _NS_EDIT, _SUB_ADMIN)
_add("subscription:update", _NS_ADMIN, _NS_EDIT, _SUB_ADMIN)
_add("subscription:get", _NS_ADMIN, _NS_EDIT, _NS_VIEW, _SUB_ADMIN)


def has_action(kind: str, role: str, action: str) -> bool:
    """role.go hasAction: exact (kind, role) key lookup — no aliasing
    at CHECK time (the aliasing already happened at table build)."""
    return action in ROLE_ACTIONS.get((kind, role), set())


class TokenAuthenticator:
    """authentication.go: token -> user identifier, with revocation
    (the reference re-validates cached tokens every 30 s against the
    controller; here revocation is immediate because the store is the
    source of truth)."""

    def __init__(self, tokens: dict[str, str] | None = None):
        self._tokens = dict(tokens or {})

    def create_token(self, token: str, user: str) -> None:
        self._tokens[token] = user

    def revoke_token(self, token: str) -> None:
        self._tokens.pop(token, None)

    def authenticate(self, token: str) -> str:
        user = self._tokens.get(token, "")
        if not user:
            raise PermissionError("invalid or revoked token")
        return user


class Authorizer:
    """authorization.go Authorize, over in-memory bindings.

    bindings: iterable of dicts {user, role, resource_kind,
    resource_id}; resource_namespaces maps (kind, id) -> namespace id
    for the escalation step (the cluster service's job in the
    reference).
    """

    def __init__(
        self,
        bindings: list[dict],
        resource_namespaces: dict[tuple[str, int], int] | None = None,
    ):
        self.bindings = list(bindings)
        self.resource_namespaces = dict(resource_namespaces or {})

    def _is_cluster_admin(self, user: str) -> bool:
        return any(
            b["user"] == user and b["role"] == "clusterAdmin"
            for b in self.bindings
        )

    def _has_permission(self, user: str, action: str, resource_id: int) -> bool:
        for b in self.bindings:
            if b["user"] != user or b["resource_id"] != resource_id:
                continue
            if has_action(b["resource_kind"], b["role"], action):
                return True
        return False

    def authorize(
        self, user: str, kind: str, resource_id: int, action: str
    ) -> bool:
        if self._is_cluster_admin(user):
            return True
        if self._has_permission(user, action, resource_id):
            return True
        if resource_id == 0:  # vanus.EmptyID()
            return False
        if kind not in ("eventbus", "subscription"):
            return False
        ns = self.resource_namespaces.get((kind, resource_id))
        if ns is None:
            return False
        return self._has_permission(user, action, ns)


def role_actions_df(spark) -> DataFrame:
    rows = [
        {"resource_kind": kind, "role": role, "action": action}
        for (kind, role), actions in sorted(ROLE_ACTIONS.items())
        for action in sorted(actions)
    ]
    return local_frame(spark, rows, "resource_kind string, role string, action string")


def authorize_requests(
    requests: DataFrame, roles: DataFrame, resources: DataFrame
) -> DataFrame:
    """Batch authorization (audit-log scale): one decision row per
    request. Schemas:

    - requests: (req_id, user, resource_kind, resource_id, action)
    - roles:    (user, role, resource_kind, resource_id)
    - resources:(resource_kind, resource_id, namespace_id)

    Decision logic = Authorizer.authorize, as three broadcast joins
    unioned into an allowed-request-id set (roles and the action table
    are control-plane-sized; requests is the big side and is never
    shuffled — every join broadcasts the small side).
    """
    spark = requests.sparkSession
    ra = F.broadcast(role_actions_df(spark))

    admins = roles.where(F.col("role") == "clusterAdmin").select("user").distinct()
    by_admin = requests.join(F.broadcast(admins), "user", "left_semi").select(
        "req_id"
    )

    grants = roles.join(
        ra,
        ["resource_kind", "role"],
    ).select(
        F.col("user").alias("g_user"),
        F.col("resource_id").alias("g_rid"),
        F.col("action").alias("g_action"),
    )
    direct = requests.join(
        F.broadcast(grants),
        (F.col("user") == F.col("g_user"))
        & (F.col("resource_id") == F.col("g_rid"))
        & (F.col("action") == F.col("g_action")),
        "left_semi",
    ).select("req_id")

    escalated = (
        requests.where(F.col("resource_kind").isin("eventbus", "subscription"))
        .join(F.broadcast(resources), ["resource_kind", "resource_id"])
        .join(
            F.broadcast(grants),
            (F.col("user") == F.col("g_user"))
            & (F.col("namespace_id") == F.col("g_rid"))
            & (F.col("action") == F.col("g_action")),
            "left_semi",
        )
        .select("req_id")
    )

    allowed = by_admin.unionByName(direct).unionByName(escalated).distinct()
    return requests.join(
        F.broadcast(allowed.withColumn("_ok", F.lit(True))), "req_id", "left"
    ).select(
        "req_id",
        "user",
        "resource_kind",
        "resource_id",
        "action",
        F.coalesce("_ok", F.lit(False)).alias("allowed"),
    )

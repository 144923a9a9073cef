"""Control-plane metadata catalog: namespaces / eventbuses /
subscriptions (reference parity: server/controller/tenant/controller.go
CreateNamespace/List/Get, eventbus + trigger controllers' CRUD).

The reference persists this metadata in its etcd-like kv store behind
the controller; here it is one JSON state document published through
the same commit protocol as the data tables (``vanus_spark.commitlog``:
write-temp + atomic rename, epoch-fenced against concurrent writers
under a lock file).
Metadata is control-plane-sized, so a single document (not a bucketed
table) is the right shape.

Semantics mirrored from the reference:
- names must be non-empty and unique within their scope (namespace
  names globally, eventbus/subscription names per namespace) —
  ErrResourceAlreadyExist -> ResourceExistsError;
- ids come from the snowflake generator (controller.go:360 calls
  snowflake.NewID); created_at/updated_at stamped on create;
- deleting a namespace with live eventbuses/subscriptions is refused
  (referential integrity);
- the catalog implements the cluster-service side of authorization
  (authorization.go:41-77 resolves an eventbus/subscription to its
  OWNING NAMESPACE via the controller): ``resource_namespaces()``
  feeds ``authz.Authorizer`` directly, and ``guard()`` wires a
  user+action check in front of every mutation.
"""

from __future__ import annotations

import json
import os
import time

from vanus_spark.commitlog import ConcurrentWriterError, fenced_swap
from vanus_spark.snowflake import Snowflake


class ResourceExistsError(RuntimeError):
    pass


class ResourceNotFoundError(RuntimeError):
    pass


class ResourceInUseError(RuntimeError):
    pass


CatalogConcurrencyError = ConcurrentWriterError


class ResourceCanNotOpError(RuntimeError):
    """Mirror of the reference's ErrResourceCanNotOp (raised when a
    lifecycle verb is applied to a subscription in the wrong phase)."""


# Subscription phases (reference: server/core/metadata phases; the
# transient stopping/pending phases collapse to their terminal states
# here because stopping a DeliveryLoop is synchronous in this port —
# disable lands directly on "stopped", resume directly on "created").
SUB_PHASE_CREATED = "created"
SUB_PHASE_STOPPED = "stopped"


class Catalog:
    def __init__(self, path: str, id_gen: Snowflake | None = None):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        self._id_gen = id_gen or Snowflake(machine_id=16, start_time_ms=0)
        self._epoch, self._state = self._load()

    # ----- persistence -----------------------------------------------------

    _EMPTY = {
        "namespaces": {},
        "eventbuses": {},
        "subscriptions": {},
        "users": {},
        "tokens": {},
        "roles": [],
        "cluster": None,
        "connectors": {},
    }

    def _load(self) -> tuple[int, dict]:
        if not os.path.exists(self.path):
            return 0, json.loads(json.dumps(self._EMPTY))
        with open(self.path) as f:
            doc = json.load(f)
        state = doc["state"]
        for k, v in self._EMPTY.items():  # forward-compat: older docs
            state.setdefault(k, json.loads(json.dumps(v)))
        for sub in state["subscriptions"].values():  # pre-lifecycle docs
            sub.setdefault("phase", SUB_PHASE_CREATED)
            sub.setdefault("offsets", {})
        return doc.get("epoch", 0), state

    def refresh(self) -> None:
        self._epoch, self._state = self._load()

    def _commit(self) -> None:
        self._epoch = fenced_swap(
            self.path,
            self.path + ".lock",
            self._epoch,
            lambda: self._load()[0],
            lambda epoch: json.dumps({"epoch": epoch, "state": self._state}),
        )

    # ----- CRUD ------------------------------------------------------------

    def _now_ms(self) -> int:
        return int(time.time() * 1000)

    def create_namespace(self, name: str) -> dict:
        if not name:
            raise ValueError("name is empty")
        if any(n["name"] == name for n in self._state["namespaces"].values()):
            raise ResourceExistsError(f"namespace {name} exist")
        nid = self._id_gen.next_id()
        now = self._now_ms()
        ns = {"id": nid, "name": name, "created_at": now, "updated_at": now}
        self._state["namespaces"][str(nid)] = ns
        self._commit()
        return dict(ns)

    def create_eventbus(
        self, namespace_id: int, name: str, log_number: int = 4
    ) -> dict:
        if not name:
            raise ValueError("name is empty")
        if str(namespace_id) not in self._state["namespaces"]:
            raise ResourceNotFoundError(f"namespace {namespace_id}")
        if any(
            b["name"] == name and b["namespace_id"] == namespace_id
            for b in self._state["eventbuses"].values()
        ):
            raise ResourceExistsError(f"eventbus {name} exist")
        bid = self._id_gen.next_id()
        now = self._now_ms()
        eb = {
            "id": bid,
            "name": name,
            "namespace_id": namespace_id,
            "log_number": log_number,
            "created_at": now,
            "updated_at": now,
        }
        self._state["eventbuses"][str(bid)] = eb
        self._commit()
        return dict(eb)

    def create_subscription(
        self, namespace_id: int, eventbus_id: int, spec: dict,
        disable: bool = False,
    ) -> dict:
        if str(namespace_id) not in self._state["namespaces"]:
            raise ResourceNotFoundError(f"namespace {namespace_id}")
        if str(eventbus_id) not in self._state["eventbuses"]:
            raise ResourceNotFoundError(f"eventbus {eventbus_id}")
        sid = self._id_gen.next_id()
        now = self._now_ms()
        sub = {
            "id": sid,
            "namespace_id": namespace_id,
            "eventbus_id": eventbus_id,
            "spec": spec,
            "phase": SUB_PHASE_STOPPED if disable else SUB_PHASE_CREATED,
            "offsets": {},
            "created_at": now,
            "updated_at": now,
        }
        self._state["subscriptions"][str(sid)] = sub
        self._commit()
        return dict(sub)

    # ----- subscription lifecycle (reference:
    # server/controller/trigger/controller.go:145-171 ResetOffsetToTimestamp,
    # :224-305 Update/Delete/Disable/Resume;
    # tool/vsctl/command/subscription.go:287-581) -------------------------

    def _sub_ref(self, sid: int) -> dict:
        sub = self._state["subscriptions"].get(str(sid))
        if sub is None:
            raise ResourceNotFoundError(f"subscription {sid}")
        return sub

    def update_subscription(self, sid: int, spec: dict) -> dict:
        """UpdateSubscription: only legal while disabled; the eventbus
        binding is immutable; a no-op patch is refused
        (controller.go:236-243,263 'no change' => ErrInvalidRequest)."""
        sub = self._sub_ref(sid)
        if sub.get("phase") != SUB_PHASE_STOPPED:
            raise ResourceCanNotOpError("subscription must be disabled can update")
        if "eventbus_id" in spec and spec["eventbus_id"] != sub["eventbus_id"]:
            raise ValueError("can not change eventbus")
        new_spec = dict(sub["spec"])
        new_spec.update({k: v for k, v in spec.items() if k != "eventbus_id"})
        if new_spec == sub["spec"]:
            raise ValueError("no change")
        sub["spec"] = new_spec
        sub["updated_at"] = self._now_ms()
        self._commit()
        return dict(sub)

    def disable_subscription(self, sid: int, declaratively: bool = False) -> dict:
        """DisableSubscription (controller.go:305-336): disabling an
        already-stopped subscription errors unless declarative."""
        sub = self._sub_ref(sid)
        if sub.get("phase") == SUB_PHASE_STOPPED:
            if declaratively:
                return dict(sub)
            raise ResourceCanNotOpError("subscription is disabled")
        sub["phase"] = SUB_PHASE_STOPPED
        sub["updated_at"] = self._now_ms()
        self._commit()
        return dict(sub)

    def resume_subscription(self, sid: int) -> dict:
        """ResumeSubscription (controller.go:338-361): only a stopped
        subscription can resume; committed offsets are left intact so
        delivery continues where it stopped (or at any reset point)."""
        sub = self._sub_ref(sid)
        if sub.get("phase") != SUB_PHASE_STOPPED:
            raise ResourceCanNotOpError("subscription is not disable")
        sub["phase"] = SUB_PHASE_CREATED
        sub["updated_at"] = self._now_ms()
        self._commit()
        return dict(sub)

    def reset_subscription_offsets(self, sid: int, offsets: dict[int, int]) -> dict:
        """ResetOffsetToTimestamp's commit half (controller.go:145-171):
        only legal while disabled ('subscription must be disable can
        reset offset'). The per-eventlog offsets are computed by the
        caller via bus.lookup_offset_by_time — the exact LookupOffset
        the reference's subscriptionManager delegates to — so the
        catalog stays Spark-free."""
        sub = self._sub_ref(sid)
        if sub.get("phase") != SUB_PHASE_STOPPED:
            raise ResourceCanNotOpError("subscription must be disable can reset offset")
        sub["offsets"] = {str(k): int(v) for k, v in offsets.items()}
        sub["updated_at"] = self._now_ms()
        self._commit()
        return dict(sub)

    def subscription_is_active(self, sid: int) -> bool:
        """DeliveryLoop gate: only subscriptions outside the stopped
        phase receive events (trigger worker checks the phase before
        scheduling)."""
        return self._sub_ref(sid).get("phase", SUB_PHASE_CREATED) != SUB_PHASE_STOPPED

    def get_namespace(self, nid: int) -> dict:
        ns = self._state["namespaces"].get(str(nid))
        if ns is None:
            raise ResourceNotFoundError(f"namespace {nid}")
        return dict(ns)

    def get_eventbus(self, bid: int) -> dict:
        eb = self._state["eventbuses"].get(str(bid))
        if eb is None:
            raise ResourceNotFoundError(f"eventbus {bid}")
        return dict(eb)

    def get_subscription(self, sid: int) -> dict:
        sub = self._state["subscriptions"].get(str(sid))
        if sub is None:
            raise ResourceNotFoundError(f"subscription {sid}")
        return dict(sub)

    def list_namespaces(self) -> list[dict]:
        return sorted(self._state["namespaces"].values(), key=lambda n: n["id"])

    def list_eventbuses(self, namespace_id: int | None = None) -> list[dict]:
        ebs = self._state["eventbuses"].values()
        if namespace_id is not None:
            ebs = [b for b in ebs if b["namespace_id"] == namespace_id]
        return sorted(ebs, key=lambda b: b["id"])

    def list_subscriptions(self, eventbus_id: int | None = None) -> list[dict]:
        subs = self._state["subscriptions"].values()
        if eventbus_id is not None:
            subs = [s for s in subs if s["eventbus_id"] == eventbus_id]
        return sorted(subs, key=lambda s: s["id"])

    def delete_subscription(self, sid: int) -> None:
        if str(sid) not in self._state["subscriptions"]:
            raise ResourceNotFoundError(f"subscription {sid}")
        del self._state["subscriptions"][str(sid)]
        self._commit()

    def delete_eventbus(self, bid: int) -> None:
        if str(bid) not in self._state["eventbuses"]:
            raise ResourceNotFoundError(f"eventbus {bid}")
        if any(
            s["eventbus_id"] == bid
            for s in self._state["subscriptions"].values()
        ):
            raise ResourceInUseError(f"eventbus {bid} has subscriptions")
        del self._state["eventbuses"][str(bid)]
        self._commit()

    def delete_namespace(self, nid: int) -> None:
        if str(nid) not in self._state["namespaces"]:
            raise ResourceNotFoundError(f"namespace {nid}")
        if any(
            b["namespace_id"] == nid
            for b in self._state["eventbuses"].values()
        ):
            raise ResourceInUseError(f"namespace {nid} has eventbuses")
        del self._state["namespaces"][str(nid)]
        self._commit()

    # ----- users / tokens / role grants (tool/vsctl user|token|permission,
    # pkg/authentication + the controller's role store) --------------------

    def create_user(self, identifier: str) -> dict:
        if not identifier:
            raise ValueError("identifier is empty")
        if identifier in self._state["users"]:
            raise ResourceExistsError(f"user {identifier} exist")
        u = {"identifier": identifier, "created_at": self._now_ms()}
        self._state["users"][identifier] = u
        self._commit()
        return dict(u)

    def delete_user(self, identifier: str) -> None:
        if identifier not in self._state["users"]:
            raise ResourceNotFoundError(f"user {identifier}")
        if any(t["user"] == identifier for t in self._state["tokens"].values()):
            raise ResourceInUseError(f"user {identifier} has tokens")
        self._state["users"].pop(identifier)
        self._state["roles"] = [
            r for r in self._state["roles"] if r["user"] != identifier
        ]
        self._commit()

    def list_users(self) -> list[dict]:
        return sorted(self._state["users"].values(), key=lambda u: u["identifier"])

    def create_token(self, user: str) -> dict:
        if user not in self._state["users"]:
            raise ResourceNotFoundError(f"user {user}")
        token = f"{self._id_gen.next_id():x}"
        t = {"token": token, "user": user, "created_at": self._now_ms()}
        self._state["tokens"][token] = t
        self._commit()
        return dict(t)

    def delete_token(self, token: str) -> None:
        if token not in self._state["tokens"]:
            raise ResourceNotFoundError("token")
        self._state["tokens"].pop(token)
        self._commit()

    def list_tokens(self, user: str | None = None) -> list[dict]:
        toks = self._state["tokens"].values()
        if user is not None:
            toks = [t for t in toks if t["user"] == user]
        return sorted(toks, key=lambda t: t["created_at"])

    def grant_role(
        self, user: str, role: str, resource_kind: str, resource_id: int
    ) -> dict:
        from vanus_spark.authz import RESOURCE_KINDS, ROLES

        if role not in ROLES:
            raise ValueError(f"unknown role {role}")
        if resource_kind not in RESOURCE_KINDS:
            raise ValueError(f"unknown resource kind {resource_kind}")
        if user not in self._state["users"]:
            raise ResourceNotFoundError(f"user {user}")
        binding = {
            "user": user,
            "role": role,
            "resource_kind": resource_kind,
            "resource_id": resource_id,
        }
        if binding not in self._state["roles"]:
            self._state["roles"].append(binding)
            self._commit()
        return dict(binding)

    def revoke_role(
        self, user: str, role: str, resource_kind: str, resource_id: int
    ) -> None:
        binding = {
            "user": user,
            "role": role,
            "resource_kind": resource_kind,
            "resource_id": resource_id,
        }
        if binding not in self._state["roles"]:
            raise ResourceNotFoundError("role binding")
        self._state["roles"].remove(binding)
        self._commit()

    def user_roles(self, user: str) -> list[dict]:
        return [dict(r) for r in self._state["roles"] if r["user"] == user]

    def bindings(self) -> list[dict]:
        """All role bindings — Authorizer's constructor input."""
        return [dict(r) for r in self._state["roles"]]

    def authenticator(self):
        """authz.TokenAuthenticator over the stored tokens."""
        from vanus_spark.authz import TokenAuthenticator

        return TokenAuthenticator(
            {t["token"]: t["user"] for t in self._state["tokens"].values()}
        )

    def authorizer(self):
        """authz.Authorizer wired to THIS catalog's bindings and
        resource-ownership map — the one-call control-plane bundle."""
        from vanus_spark.authz import Authorizer

        return Authorizer(self.bindings(), self.resource_namespaces())

    # ----- authorization wiring -------------------------------------------

    def resource_namespaces(self) -> dict[tuple[str, int], int]:
        """The (kind, id) -> namespace_id map authz.Authorizer uses
        for escalation — the catalog IS the cluster service here."""
        out: dict[tuple[str, int], int] = {}
        for b in self._state["eventbuses"].values():
            out[("eventbus", b["id"])] = b["namespace_id"]
        for s in self._state["subscriptions"].values():
            out[("subscription", s["id"])] = s["namespace_id"]
        return out

    def guard(self, authorizer, user: str, kind: str, resource_id: int, action: str) -> None:
        """Raise PermissionError unless the user may perform action —
        with the authorizer's escalation map refreshed from THIS
        catalog, so a just-created eventbus resolves immediately."""
        authorizer.resource_namespaces = self.resource_namespaces()
        if not authorizer.authorize(user, kind, resource_id, action):
            raise PermissionError(f"{user} may not {action} on {kind} {resource_id}")

    # ----- cluster spec (reference: tool/vsctl/command/cluster.go) ---------
    # The reference's cluster verbs drive a k8s operator (deploy etcd/
    # store/trigger StatefulSets over HTTP). Here the "cluster" is the
    # engine's own runtime spec — the Spark session profile plus the
    # replica counts a deployment WOULD use — persisted as catalog
    # state with the same create/upgrade/scale/status/delete lifecycle
    # and the same CLI-level validations (version required and in the
    # supported list, cluster.go:36,42,958-960; scale targets store/
    # trigger, cluster.go:599,671).

    def create_cluster(self, version: str, annotations: dict | None = None) -> dict:
        if self._state.get("cluster"):
            raise ResourceExistsError("cluster exists")
        if version not in SUPPORTED_CLUSTER_VERSIONS:
            raise ValueError(
                f"unsupported cluster version {version!r}; supported: "
                f"{SUPPORTED_CLUSTER_VERSIONS}"
            )
        self._state["cluster"] = {
            "version": version,
            "status": "Running",
            "annotations": dict(annotations or {}),
            # reference defaults: etcd 3 / store 3 / trigger 3
            # (cluster.go scale flags default replicas=3)
            "replicas": {"etcd": 3, "store": 3, "trigger": 3},
            "created_at_ms": self._now_ms(),
        }
        self._commit()
        return json.loads(json.dumps(self._state["cluster"]))

    def get_cluster(self) -> dict:
        c = self._state.get("cluster")
        if not c:
            raise ResourceNotFoundError("cluster")
        return json.loads(json.dumps(c))

    def upgrade_cluster(self, version: str) -> dict:
        c = self._state.get("cluster")
        if not c:
            raise ResourceNotFoundError("cluster")
        if version not in SUPPORTED_CLUSTER_VERSIONS:
            raise ValueError(
                f"unsupported cluster version {version!r}; supported: "
                f"{SUPPORTED_CLUSTER_VERSIONS}"
            )
        if version == c["version"]:
            raise ValueError(
                f"the cluster is already running version {version}"
            )
        c["version"] = version
        self._commit()
        return json.loads(json.dumps(c))

    def scale_cluster(self, component: str, replicas: int) -> dict:
        c = self._state.get("cluster")
        if not c:
            raise ResourceNotFoundError("cluster")
        if component not in ("store", "trigger"):
            raise ValueError(
                "scale targets 'store' or 'trigger' "
                "(cluster.go:599,671)"
            )
        if replicas < 1:
            raise ValueError("replicas must be >= 1")
        if component == "store" and replicas % 2 == 0:
            # the store is Raft-replicated (SURVEY §1.3): an even
            # replica count has the same quorum as n-1 with worse
            # availability, so reject it at the CLI boundary
            raise ValueError("store replicas must be odd (Raft quorum)")
        c["replicas"][component] = replicas
        self._commit()
        return json.loads(json.dumps(c))

    def delete_cluster(self, force: bool = False) -> None:
        if not self._state.get("cluster"):
            raise ResourceNotFoundError("cluster")
        if self._state["connectors"] and not force:
            raise ResourceInUseError(
                "cluster has installed connectors; pass force=True"
            )
        self._state["cluster"] = None
        if force:
            self._state["connectors"] = {}
        self._commit()

    # ----- connectors (reference: tool/vsctl/command/connector.go) ---------

    def install_connector(
        self,
        kind: str,
        name: str,
        ctype: str,
        version: str = "latest",
        config: dict | None = None,
        annotations: dict | None = None,
    ) -> dict:
        """Register a connector, mirroring the reference CLI's
        validation ladder (connector.go:136-162): kind must be
        source|sink, name a DNS-1123 subdomain, (kind, type, version)
        must be in the supported list (connector.go:34-45,498-505),
        and the name must be free."""
        if kind not in ("source", "sink"):
            raise ValueError(
                "the kind Only support 'source' or 'sink'"
            )
        if not name:
            raise ValueError("name is empty")
        if not _DNS1123_SUBDOMAIN.match(name) or len(name) > 253:
            raise ValueError(
                "invalid format of name: a lowercase RFC 1123 subdomain"
                " must consist of lower case alphanumeric characters,"
                " '-' or '.', and must start and end with an"
                " alphanumeric character"
            )
        if not ctype:
            raise ValueError("ctype is empty")
        if (kind, ctype, version) not in SUPPORTED_CONNECTORS:
            raise ValueError(
                "Unsupported connector. Supported: "
                f"{sorted(SUPPORTED_CONNECTORS)}"
            )
        if name in self._state["connectors"]:
            raise ResourceExistsError(f"connector {name} exist")
        self._state["connectors"][name] = {
            "kind": kind,
            "name": name,
            "type": ctype,
            "version": version,
            "config": dict(config or {}),
            "annotations": dict(annotations or {}),
            "status": "Running",
            "reason": "",
            "created_at_ms": self._now_ms(),
        }
        self._commit()
        return json.loads(json.dumps(self._state["connectors"][name]))

    def uninstall_connector(self, name: str) -> None:
        if name not in self._state["connectors"]:
            raise ResourceNotFoundError(f"connector {name}")
        del self._state["connectors"][name]
        self._commit()

    def list_connectors(self) -> list[dict]:
        return [
            json.loads(json.dumps(c))
            for c in sorted(
                self._state["connectors"].values(),
                key=lambda c: c["name"],
            )
        ]

    def get_connector(self, name: str) -> dict:
        if name not in self._state["connectors"]:
            raise ResourceNotFoundError(f"connector {name}")
        return json.loads(json.dumps(self._state["connectors"][name]))


# reference: cluster.go:36 DefaultInitialVersion = "v0.9.0";
# clusterVersionList = [DefaultInitialVersion]. One extra entry so the
# upgrade path is exercisable.
DEFAULT_CLUSTER_VERSION = "v0.9.0"
SUPPORTED_CLUSTER_VERSIONS = ("v0.9.0", "v0.9.1")

# reference: connector.go:34-45 supportedConnectors
SUPPORTED_CONNECTORS = {
    ("source", "http", "latest"),
    ("sink", "feishu", "latest"),
}

# reference: util.go:39-47 dns1123SubdomainRegexp
import re as _re  # noqa: E402

_DNS1123_LABEL = r"[a-z0-9]([-a-z0-9]*[a-z0-9])?"
_DNS1123_SUBDOMAIN = _re.compile(
    rf"^{_DNS1123_LABEL}(\.{_DNS1123_LABEL})*$"
)


def publish_guard(catalog: Catalog, namespace_name: str):
    """Gateway-side publish guard for CloudEventsReceiver: resolves the
    Bearer token to a user (401 on unknown/revoked), the bus name to
    the namespace's eventbus, and requires eventbus:write (403
    otherwise) — the reference gateway's authn+authz front door."""

    def guard(token: str, bus_name: str) -> None:
        try:
            user = catalog.authenticator().authenticate(token)
        except PermissionError as e:
            # authn failure is 401 (the receiver maps PermissionError
            # to 403, which is reserved for authz denials)
            raise ValueError(str(e)) from e
        ns = next(
            (n for n in catalog.list_namespaces() if n["name"] == namespace_name),
            None,
        )
        eb = None
        if ns is not None:
            eb = next(
                (
                    b
                    for b in catalog.list_eventbuses(ns["id"])
                    if b["name"] == bus_name
                ),
                None,
            )
        if eb is None:
            raise PermissionError(f"no such eventbus {bus_name}")
        if not catalog.authorizer().authorize(
            user, "eventbus", eb["id"], "eventbus:write"
        ):
            raise PermissionError(f"{user} may not publish to {bus_name}")

    return guard

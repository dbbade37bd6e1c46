"""Shared conf-key + named-connection registry.

The reference keeps source confs in etc/*.yaml hot-updated via
PUT /metadata/{sources|sinks}/{type}/confKeys/{key} and named
connections via /connections (internal/server/connection.go); streams
reference them through CONF_KEY / connectionSelector.  This module is
the in-process analog both the REST server and the catalog read.

Connection STATUS is probed live (the reference tracks it through the
client callbacks): a dialable endpoint reports connected, a refused
one disconnected — the /connections listing and the per-rule
source_<conn>/<topic>_0_connection_status metric both read it.
"""

from __future__ import annotations

import socket
from typing import Any, Optional
from urllib.parse import urlparse

# "{sources|sinks}/{type}" -> conf key -> props
CONF_KEYS: dict[str, dict[str, dict]] = {}
# connection id -> {"typ": ..., "props": {...}}
CONNECTIONS: dict[str, dict[str, Any]] = {}

# source/sink types whose connection can be pinged (connection.go ping
# registry): everything else answers "doesn't support ping connection"
PINGABLE = {"mqtt", "kafka", "sql", "redis", "zmq", "neuron2"}


def set_conf(kind: str, typ: str, key: str, props: dict) -> None:
    CONF_KEYS.setdefault(f"{kind}/{typ}", {})[key] = dict(props)


def get_conf(kind: str, typ: str, key: str) -> Optional[dict]:
    return CONF_KEYS.get(f"{kind}/{typ}", {}).get(key)


def drop_conf(kind: str, typ: str, key: str) -> Optional[dict]:
    """Remove a conf key; returns its props, None when it was not set."""
    return CONF_KEYS.get(f"{kind}/{typ}", {}).pop(key, None)


def resolve_props(typ: str, options: dict) -> dict:
    """Merge conf-key props and connectionSelector props under the
    stream's WITH options (inline options win, like the reference's
    per-stream overrides)."""
    out: dict[str, Any] = {}
    ck = options.get("conf_key")
    if ck:
        out.update(get_conf("sources", typ, str(ck)) or {})
    sel = out.get("connectionSelector") or options.get("connectionselector")
    if sel and str(sel) in CONNECTIONS:
        out.update(CONNECTIONS[str(sel)].get("props") or {})
        out["connectionSelector"] = str(sel)
    out.update({k: v for k, v in options.items() if k not in ("type", "conf_key")})
    return out


def _endpoint(typ: str, props: dict) -> Optional[tuple[str, int]]:
    """(host, port) for the dialable connection types."""
    t = (typ or "").lower()
    if t == "mqtt":
        u = urlparse(str(props.get("server") or props.get("servers", [""])[0] or ""))
        if u.hostname:
            return u.hostname, int(u.port or 1883)
        if props.get("host"):
            return str(props["host"]), int(props.get("port", 1883))
    elif t == "kafka":
        b = str(props.get("brokers", "")).split(",")[0]
        if "://" in b:
            u = urlparse(b)
            return (u.hostname or b, int(u.port or 9092))
        if b:
            host, _, port = b.partition(":")
            return host, int(port or 9092)
    elif t in ("sql", "redis", "zmq", "neuron2"):
        u = urlparse(str(props.get("url") or props.get("dburl") or props.get("addr") or ""))
        if u.hostname:
            return u.hostname, int(u.port or 0)
    return None


def probe(typ: str, props: dict, timeout: float = 2.0) -> str:
    """'connected' | 'disconnected' by dialing the endpoint; types with
    no dialable endpoint report connected (the reference's stateless
    connections are always 'connected')."""
    ep = _endpoint(typ, props)
    if ep is None or not ep[1]:
        return "connected"
    try:
        with socket.create_connection(ep, timeout=timeout):
            return "connected"
    except OSError:
        return "disconnected"


def ping(kind: str, typ: str, props: dict) -> Optional[str]:
    """None on success; an error message on failure; raises KeyError for
    non-pingable types (connection.go ping registry semantics)."""
    t = (typ or "").lower()
    if t not in PINGABLE:
        raise KeyError(t)
    ep = _endpoint(t, props)
    if ep is None:
        return f"invalid {kind[:-1]} {t} props: no endpoint"
    try:
        with socket.create_connection(ep, timeout=3.0):
            return None
    except OSError as e:
        server = props.get("server") or props.get("brokers") or props.get("url") or f"{ep[0]}:{ep[1]}"
        reason = "connect: connection refused" if getattr(e, "errno", None) == 111 else str(e)
        return (
            f"found error when connecting for {server}: network Error : "
            f"dial tcp {ep[0]}:{ep[1]}: {reason}"
        )

"""Thin REST control plane over RuleRuntime + StreamProcessor.

Mirrors the reference's rule/stream endpoints (internal/server/rest.go:
195-254) and the trial-run service (internal/trial/, rest.go:237
`/ruletest`), using only the stdlib http.server — no extra dependencies.

    POST   /streams                 {"sql": "CREATE STREAM ..."}
    GET    /streams                 -> [names]
    GET    /streams/{name}          -> describe
    DELETE /streams/{name}
    POST   /rules                   {"id", "sql", "actions", "options"}
    GET    /rules                   -> [{id, status}]
    GET    /rules/{id}              -> rule spec
    PUT    /rules/{id}              replace sql/actions/options (stops first)
    DELETE /rules/{id}              (stops first)
    POST   /rules/{id}/start        (?availableNow=1 for bounded runs)
    POST   /rules/{id}/stop
    POST   /rules/{id}/restart
    GET    /rules/{id}/status       -> {state, progress}
    GET    /rules/status/all        -> {id: status}
    POST   /rules/validate          {"sql"} -> {valid, error?}
    GET    /rules/{id}/explain      -> Catalyst formatted plan
    GET    /rules/{id}/topo         -> {sources, edges} operator topology
    POST   /ruletest                {"sql", "mockSource"?: {name: [rows]}}
                                    -> {"rows": [...], "columns": [...]}
    POST   /ruleset/export          -> {streams: {name: DDL}, rules: {...}}
    POST   /ruleset/import          {streams?, rules?}
    GET    /ping
    GET/POST /schemas/protobuf      SCHEMAID registry (schema_init.go:52)
    GET/PUT/DELETE /schemas/protobuf/{name}

The trial run (`/ruletest`) injects mock rows as an in-memory source —
the analog of the reference's mock-source trial topology
(internal/topo/planner/planner.go:49-97) — compiles the rule in batch
mode, and returns up to `limit` result rows.
"""

from __future__ import annotations

import json
import re
import threading
from dataclasses import asdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Optional

from pyspark.sql import SparkSession

from ekuiper_spark.catalog import Catalog
from ekuiper_spark.plans.ddl import StreamProcessor
from ekuiper_spark.sources import confstore
from ekuiper_spark.streaming.runtime import Rule, RuleRecord, RuleRuntime
from ekuiper_spark.translator import compile_sql


VERSION = "2.0.0-spark"


class RestServer:
    """The control-plane HTTP server; one per (spark, catalog) pair."""

    def __init__(self, spark: SparkSession, catalog: Catalog, port: int = 0) -> None:
        self.spark = spark
        self.catalog = catalog
        self.runtime = RuleRuntime(spark, catalog)
        self.processor = StreamProcessor(spark, catalog)
        self.services: dict[str, list[str]] = {}
        import tempfile

        # /config/uploads file store (rest.go:181 dataDir/uploads)
        self.upload_dir = tempfile.mkdtemp(prefix="ekuiper_spark_uploads_")
        # conf keys and named connections live in sources.confstore, the
        # one registry the catalog resolves CONF_KEY/connectionSelector in
        import time as _time

        self._started_at = _time.time()
        # hot-updatable basic config (rest.go:229 PATCH /configs)
        self.basic_config: dict[str, Any] = {}
        # trial rules (rest.go:1065 /ruletest lifecycle)
        self.trials: dict[str, dict[str, Any]] = {}
        self._trial_ws_srv: Any = None
        # async import tasks (internal/pkg/async/async.go AsyncManager)
        self.async_tasks: dict[str, dict[str, Any]] = {}
        self._async_threads: dict[str, threading.Thread] = {}
        self._async_cancels: dict[str, threading.Event] = {}
        # tracer config (pkg/tracer; rest.go:249 POST /tracer)
        self.tracer_config: dict[str, Any] = {
            "enableRemoteCollector": False,
            "serviceName": "kuiperd-service",
            "remoteEndpoint": "",
        }
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, body: Any) -> None:
                if isinstance(body, (bytes, bytearray)):
                    # binary download (metrics_init.go downloadHandler)
                    self.send_response(code)
                    self.send_header("Content-Type", "application/zip")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(bytes(body))
                    return
                data = json.dumps(body, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                return json.loads(self.rfile.read(n) or b"{}")

            def _route(self, method: str) -> None:
                try:
                    # PATCH/DELETE and the reference's GET-with-body
                    # (/rules/tags/match) also carry JSON payloads
                    code, body = outer.handle(method, self.path, self._body())
                except KeyError as e:
                    code, body = 404, {"error": str(e)}
                except (ValueError, SyntaxError) as e:
                    code, body = 400, {"error": str(e)}
                except Exception as e:  # pragma: no cover
                    code, body = 500, {"error": f"{type(e).__name__}: {e}"}
                self._send(code, body)

            def do_GET(self):
                self._route("GET")

            def do_POST(self):
                self._route("POST")

            def do_PUT(self):
                self._route("PUT")

            def do_DELETE(self):
                self._route("DELETE")

            def do_PATCH(self):
                self._route("PATCH")

        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self.httpd.server_address[1]
        self._thread: Optional[threading.Thread] = None

    # ------------------------------------------------------------------ #
    # Configuration sections in the reference's struct order
    # (import_export.go:60-73 Configuration / ImportConfigurationStatus) —
    # the error payload lists every section, failures only
    _IMPORT_SECTIONS = (
        "streams", "tables", "rules", "nativePlugins", "portablePlugins",
        "sourceConfig", "sinkConfig", "connectionConfig", "Service",
        "Schema", "uploads", "scripts",
    )

    def _import_configuration(
        self, body: dict
    ) -> tuple[dict[str, int], dict[str, dict[str, str]]]:
        """Apply a Configuration payload (import_export.go:418
        handleConfigurationImport): streams/tables DDL, rules, source
        confs, scripts, schemas, uploads.  Valid items apply; per-item
        errors are collected in the reference's section map.  Shared by
        the synchronous /data/import and the async task."""
        import os as _os

        from ekuiper_spark.functions import script as _script
        from ekuiper_spark.operators import codecs as _codecs
        from ekuiper_spark.plans.ddl import DDLParser

        counts = {"streams": 0, "tables": 0, "rules": 0, "scripts": 0,
                  "schemas": 0, "uploads": 0, "sourceConfig": 0}
        errors: dict[str, dict[str, str]] = {s: {} for s in self._IMPORT_SECTIONS}
        for typ, confs in sorted((body.get("sourceConfig") or {}).items()):
            try:
                if isinstance(confs, str):
                    confs = json.loads(confs)
                for key, conf in sorted(confs.items()):
                    confstore.set_conf("sources", typ, key, conf)
                    counts["sourceConfig"] += 1
            except Exception as e:
                errors["sourceConfig"][typ] = str(e)
        for sec in ("streams", "tables"):
            for name, sql in sorted((body.get(sec) or {}).items()):
                try:
                    self.catalog.register(DDLParser(sql).parse_create())
                    counts[sec] += 1
                except Exception as e:
                    errors[sec][name] = str(e)
        for rid, spec in sorted((body.get("rules") or {}).items()):
            try:
                self.runtime.put_rule(Rule.from_spec(spec, rid))
                counts["rules"] += 1
            except Exception as e:
                errors["rules"][rid] = str(e)
        for fid, src in sorted((body.get("scripts") or {}).items()):
            try:
                _script.unregister_script_function(fid)
                _script.register_script_function(fid, src)
                counts["scripts"] += 1
            except Exception as e:
                errors["scripts"][fid] = str(e)
        for n, fields in sorted((body.get("Schema") or {}).items()):
            try:
                _codecs.register_schema(n, [tuple(f) for f in json.loads(fields)])
                counts["schemas"] += 1
            except Exception as e:
                errors["Schema"][n] = str(e)
        for n, content in sorted((body.get("uploads") or {}).items()):
            try:
                dst = _os.path.join(self.upload_dir, n)
                _os.makedirs(_os.path.dirname(dst), exist_ok=True)
                with open(dst, "w") as f:
                    f.write(content)
                counts["uploads"] += 1
            except Exception as e:
                errors["uploads"][n] = str(e)
        return counts, errors

    def _import_error_payload(self, errors: dict[str, dict[str, str]]) -> dict:
        """The reference 400 shape: handleError(errorx 1000) whose message
        is the JSON of ImportConfigurationStatus (all sections present)."""
        msg = json.dumps(
            {s: errors.get(s, {}) for s in self._IMPORT_SECTIONS},
            separators=(",", ":"),
        )
        return {"error": 1000, "message": msg}

    @staticmethod
    def _validate_id(name: str) -> Optional[str]:
        """pkg/validate/validate.go ValidateID: alphanumeric/hyphen/
        underscore only; returns the reference's error text or None."""
        if name == "":
            return "id cannot be empty"
        if name != name.strip():
            return f"id '{name}' contains leading or trailing whitespace"
        if not re.match(r"^[a-zA-Z0-9_\-]+$", name):
            return (
                f"id '{name}' contains invalid characters: only "
                "alphanumeric, hyphens and underscores are allowed"
            )
        return None

    @staticmethod
    def _rule_sources(stmt: Any) -> set[str]:
        """Lower-cased stream names a parsed rule reads (none if its SQL
        does not parse)."""
        if stmt is None:
            return set()
        return {s.lower() for s in [stmt.source] + [j.source for j in (stmt.joins or [])]}

    def _shared_stream_schema(self, name: str) -> dict[str, Any]:
        """Schemaless stream schema = ordered union of the columns the
        attached rules select (topo/schema/sharelayer; fvt rule_test.go
        TestStreamSchemaWithSharedSource): plain rules contribute null
        entries; useSliceTuple rules contribute {"hasIndex", "index"}
        slots in first-attachment order."""
        from ekuiper_spark.ast_nodes import ColumnRef, walk

        cols: list[str] = []
        attached = 0
        all_slice = True
        for rec in self.runtime.records.values():
            stmt = rec.stmt
            if name.lower() not in self._rule_sources(stmt):
                continue
            attached += 1
            exp = (rec.rule.options.get("experiment") or {})
            if not exp.get("useSliceTuple"):
                all_slice = False

            for root in [*stmt.fields, stmt.where, stmt.having]:
                for n in walk(root):
                    if isinstance(n, ColumnRef) and n.name not in cols:
                        cols.append(n.name)
        if attached and all_slice:
            return {c: {"hasIndex": True, "index": i} for i, c in enumerate(cols)}
        return {c: None for c in cols}

    def handle(self, method: str, path: str, body: dict) -> tuple[int, Any]:
        from urllib.parse import unquote

        path, _, query = path.partition("?")
        path = unquote(path)
        parts = [p for p in path.split("/") if p]

        if parts == []:
            # root status (rest.go rootHandler; fvt server_test.go pins
            # version/os/arch/upTimeSeconds/cpuUsage/memoryUsed/memoryTotal)
            import os as _os
            import platform
            import time as _time

            mem_total = mem_avail = 0
            try:
                with open("/proc/meminfo") as f:
                    for line in f:
                        if line.startswith("MemTotal:"):
                            mem_total = int(line.split()[1]) * 1024
                        elif line.startswith("MemAvailable:"):
                            mem_avail = int(line.split()[1]) * 1024
            except OSError:
                pass
            try:
                cpu = _os.getloadavg()[0] / (_os.cpu_count() or 1) * 100
            except OSError:
                cpu = 0.0
            return 200, {
                "product": "ekuiper_spark",
                "version": VERSION,
                "rules": len(self.runtime.records),
                "os": platform.system().lower(),
                "arch": platform.machine(),
                "upTimeSeconds": int(_time.time() - self._started_at),
                "cpuUsage": round(cpu, 2),
                "memoryUsed": mem_total - mem_avail,
                "memoryTotal": mem_total,
            }

        # named-entity id validation (the reference validates the path id
        # in every entity handler — rest.go:641,772, rpc_script.go:33)
        _checked: Optional[str] = None
        if len(parts) >= 2 and parts[0] in ("streams", "tables", "rules", "services"):
            if parts[1] not in ("status", "tags", "usage", "validate",
                                "bulkstart", "bulkstop"):
                _checked = parts[1]
        elif len(parts) >= 3 and parts[0] == "plugins" and parts[1] in (
            "sources", "sinks", "functions"
        ):
            _checked = parts[2]
        elif len(parts) >= 3 and parts[0] == "udf" and parts[1] in (
            "script", "javascript"
        ):
            _checked = parts[2]
        if _checked is not None:
            err = self._validate_id(_checked)
            if err:
                return 400, {"error": 1000, "message": err}
        if parts[0] == "plugins":
            # native plugin install is a non-goal on Spark (the scalar/agg
            # surface is built in); ids validate, everything else 404s
            return 404, {"error": f"plugin management not supported: {path}"}

        if parts[0] == "metadata" and len(parts) == 4 and parts[2] == "connection":
            # POST /metadata/{sources|sinks}/connection/{type}: ping the
            # connection props (connection.go ping registry; fvt
            # TestSourcePing/TestSinkPing error shapes)
            kind, typ = parts[1], parts[3]
            if method == "POST":
                try:
                    err = confstore.ping(kind, typ, body or {})
                except KeyError:
                    return 400, {
                        "error": 1000,
                        "message": f"{kind[:-1]} {typ} doesn't support ping connection",
                    }
                if err is None:
                    return 200, {"result": "success"}
                return 400, {"error": 1003, "message": err}

        if parts[0] == "metadata" and len(parts) == 5 and parts[3] == "confKeys":
            # PUT /metadata/{sources|sinks}/{type}/confKeys/{key}
            # (meta_init.go conf-key hot update; fvt sdk.go CreateConf):
            # stores the conf; streams resolve CONF_KEY here
            kind, typ, key = parts[1], parts[2], parts[4]
            if method == "PUT":
                confstore.set_conf(kind, typ, key, body or {})
                return 200, {"result": f"conf {kind}/{typ}/{key} updated"}
            if method == "GET":
                conf = confstore.get_conf(kind, typ, key)
                if conf is None:
                    return 404, {"error": f"conf key {key!r} not found"}
                return 200, conf
            if method == "DELETE":
                if confstore.drop_conf(kind, typ, key) is None:
                    return 404, {"error": f"conf key {key!r} not found"}
                return 200, {"result": f"conf {kind}/{typ}/{key} dropped"}

        if parts == ["ping"]:
            return 200, {"result": "pong"}

        if parts[0] == "schemas":
            # schema registry (internal/server/schema_init.go:52-54); only
            # the protobuf type carries payload schemas in this runtime
            from ekuiper_spark.operators import codecs

            if len(parts) >= 2 and parts[1] != "protobuf":
                return 404, {"error": f"unknown schema type {parts[1]!r}"}
            if method == "GET" and len(parts) == 2:
                return 200, sorted(codecs.SCHEMA_REGISTRY)
            if method == "POST" and len(parts) == 2:
                codecs.register_schema(body["name"], body["fields"])
                return 201, {"result": f"schema {body['name']} created"}
            if len(parts) == 3:
                name = parts[2]
                if method == "PUT":
                    codecs.register_schema(name, body["fields"])
                    return 200, {"result": f"schema {name} updated"}
                if name not in codecs.SCHEMA_REGISTRY:
                    return 404, {"error": f"schema {name!r} not registered"}
                if method == "GET":
                    return 200, {
                        "name": name,
                        "fields": [list(f) for f in codecs.SCHEMA_REGISTRY[name]],
                    }
                if method == "DELETE":
                    del codecs.SCHEMA_REGISTRY[name]
                    return 200, {"result": f"schema {name} dropped"}

        if parts[0] == "udf" and len(parts) >= 2 and parts[1] in ("script", "javascript"):
            # script UDF lifecycle (script_init.go:46-47 /udf/javascript;
            # /udf/script is this runtime's python-dialect alias): the
            # top-level symbol named after the id becomes the SQL function
            from ekuiper_spark.functions import script as _script

            if method == "POST" and len(parts) == 2:
                try:
                    _script.register_script_function(
                        body["id"],
                        body["script"],
                        is_agg=bool(body.get("isAgg", False)),
                        result_type=body.get("resultType", "string"),
                    )
                except (SyntaxError, ValueError) as e:
                    return 400, {"error": str(e)}
                return 201, {"result": f"script function {body['id']} is created"}
            if method == "GET" and len(parts) == 2:
                return 200, sorted(_script.SCRIPTS)
            if len(parts) == 3:
                fid = parts[2].lower()
                if method == "GET":
                    if fid not in _script.SCRIPTS:
                        return 404, {"error": f"script function {fid!r} not registered"}
                    return 200, {"id": fid, **_script.SCRIPTS[fid]}
                if method == "PUT":
                    _script.unregister_script_function(fid)
                    try:
                        _script.register_script_function(
                            fid,
                            body["script"],
                            is_agg=bool(body.get("isAgg", False)),
                            result_type=body.get("resultType", "string"),
                        )
                    except (SyntaxError, ValueError) as e:
                        return 400, {"error": str(e)}
                    return 200, {"result": f"script function {fid} is updated"}
                if method == "DELETE":
                    if not _script.unregister_script_function(fid):
                        return 404, {"error": f"script function {fid!r} not registered"}
                    return 200, {"result": f"script function {fid} is deleted"}

        if parts[0] == "config" and len(parts) >= 2 and parts[1] == "uploads":
            # rest.go:230 /config/uploads — the JSON fileContent variant
            # ({name, content} or {name, file: <url>}); uploaded files back
            # file sources and certificates by absolute path
            import os as _os

            if method == "POST" and len(parts) == 2:
                # Go JSON unmarshal is case-insensitive on field names —
                # fvt upload_test.go posts {"Name","Content"}
                lk = {str(k).lower(): v for k, v in body.items()}
                name = lk.get("name")
                if not name:
                    return 400, {"error": "Invalid body: missing necessary field"}
                content = lk.get("content")
                file_url = lk.get("file")
                if content is None and not file_url:
                    return 400, {"error": "Invalid body: missing necessary field"}
                # nested subdirectories are created within the upload root
                # (rest.go saveUploadFile's os.OpenRoot walk); anything
                # that escapes the root is rejected (path traversal)
                root = _os.path.realpath(self.upload_dir)
                dst = _os.path.realpath(_os.path.join(root, name))
                if not dst.startswith(root + _os.sep):
                    return 400, {
                        "error": f"invalid upload name {name!r}: escapes the upload directory"
                    }
                _os.makedirs(_os.path.dirname(dst), exist_ok=True)
                if content is not None:
                    with open(dst, "w") as f:
                        f.write(content)
                else:
                    import urllib.request as _ur

                    if not str(file_url).startswith(("http://", "https://", "file://")):
                        return 400, {"error": "Invalid file url"}
                    with _ur.urlopen(file_url) as r, open(dst, "wb") as f:
                        f.write(r.read())
                return 201, dst
            if method == "GET" and len(parts) == 2:
                out = []
                for base, _dirs, files in _os.walk(self.upload_dir):
                    out.extend(_os.path.join(base, n) for n in files)
                return 200, sorted(out)
            if method == "DELETE" and len(parts) >= 3:
                rel = "/".join(parts[2:])
                root = _os.path.realpath(self.upload_dir)
                dst = _os.path.realpath(_os.path.join(root, rel))
                if not dst.startswith(root + _os.sep) or not _os.path.exists(dst):
                    return 404, {"error": f"upload {rel!r} not found"}
                _os.remove(dst)
                return 200, {"result": f"deleted {rel}"}

        if parts[0] == "services":
            # external service functions (internal/service/manager.go):
            # a descriptor maps HTTP endpoints to SQL function names; the
            # functions compile to batched Arrow UDFs (functions/external.py)
            from ekuiper_spark.functions import external as _ext

            if method == "POST" and len(parts) == 1:
                svc = body["name"]
                fns = body.get("functions") or []
                if not fns:
                    return 400, {"error": "service needs at least one function"}
                for f in fns:
                    _ext.register_service_function(
                        f["name"],
                        f["url"],
                        result_type=f.get("resultType", "string"),
                        timeout=float(f.get("timeout", 10.0)),
                    )
                self.services[svc] = [f["name"].lower() for f in fns]
                return 201, {"result": f"service {svc} created"}
            if method == "GET" and len(parts) == 1:
                return 200, sorted(self.services)
            if method == "GET" and len(parts) == 2:
                if parts[1] not in self.services:
                    return 404, {"error": f"service {parts[1]!r} not registered"}
                return 200, {
                    "name": parts[1],
                    "functions": {
                        fn: _ext.SERVICES[fn] for fn in self.services[parts[1]]
                    },
                }
            if method == "DELETE" and len(parts) == 2:
                fns = self.services.pop(parts[1], None)
                if fns is None:
                    return 404, {"error": f"service {parts[1]!r} not registered"}
                for fn in fns:
                    _ext.unregister_service_function(fn)
                return 200, {"result": f"service {parts[1]} dropped"}

        if parts[0] == "ruleset":
            # rest.go:227-228 export/import: one JSON with streams + rules
            if method == "POST" and parts[1:] == ["export"]:
                return 200, {
                    "streams": {n: self.catalog.ddl_of(n) for n in sorted(self.catalog.all_defs())
                                if self.catalog.ddl_of(n)},
                    "rules": {rid: asdict(r) for rid, r in sorted(self.runtime.rules.items())},
                }
            if method == "POST" and parts[1:] == ["import"]:
                from ekuiper_spark.plans.ddl import DDLParser

                n_s = n_r = 0
                for _, sql in sorted((body.get("streams") or {}).items()):
                    # replace-on-conflict (the reference's import overwrites)
                    self.catalog.register(DDLParser(sql).parse_create())
                    n_s += 1
                for rid, spec in sorted((body.get("rules") or {}).items()):
                    # replace-on-conflict without starting
                    if rid in self.runtime.records:
                        self.runtime.delete_rule(rid)
                    self.runtime.create_rule(Rule.from_spec(spec, rid))
                    n_r += 1
                return 200, {"imported": {"streams": n_s, "rules": n_r}}

        if parts[0] in ("streamdetails", "tabledetails") and method == "GET":
            # rest.go:200/204 detail listings (processor.StreamDetail:
            # name/type/format)
            want_table = parts[0] == "tabledetails"
            out = []
            for n, d in sorted(self.catalog.all_defs().items()):
                if (d.kind in ("scan", "lookup")) != want_table:
                    continue
                opts = d.options or {}
                out.append(
                    {
                        "name": n,
                        "type": opts.get("type", "file"),
                        "format": opts.get("format", getattr(d, "format", "") or "json"),
                    }
                )
            return 200, out

        if parts == ["rules", "usage", "cpu"] and method == "GET":
            # rest.go:1107 top-CPU rules; the per-rule stat here is the
            # cumulative micro-batch triggerExecution time (ms)
            import json as _json

            result: dict[str, int] = {}
            for rid, q in self.runtime.queries.items():
                total = 0
                try:
                    for p in q.recentProgress or []:
                        d = _json.loads(p) if isinstance(p, str) else p
                        total += int((d.get("durationMs") or {}).get("triggerExecution", 0))
                except Exception:
                    continue
                result[rid] = total
            return 200, result

        if parts == ["configs"] and method == "PATCH":
            # rest.go:229 basic-config hot update; accepted keys are
            # stored and echoed (debug/consoleLog/fileLog/timezone)
            allowed = {"debug", "consoleLog", "fileLog", "timezone"}
            bad = sorted(set(body) - allowed)
            if bad:
                return 400, {"error": f"unsupported config keys: {bad}"}
            self.basic_config.update(body)
            return 200, self.basic_config

        if parts == ["stop"]:
            threading.Thread(target=self.stop, daemon=True).start()
            return 200, "stop success"

        if parts[0] == "connections":
            # rest.go:235-236 named-connection registry (connection.go:
            # 33-81 request/response shapes); connections are reusable
            # source/sink endpoint configs referenced by connectionSelector
            conns = confstore.CONNECTIONS
            if method == "POST" and len(parts) == 1:
                cid = body.get("id")
                if not cid or not re.match(r"^[A-Za-z0-9_.-]+$", cid):
                    return 400, {"error": "invalid connection id"}
                if cid in conns:
                    return 400, {"error": f"connection {cid} already exists"}
                conns[cid] = {
                    "typ": body.get("typ", ""),
                    "props": body.get("props") or {},
                }
                return 201, "success"
            if method == "GET" and len(parts) == 1:
                return 200, [
                    {
                        "id": cid,
                        "typ": c["typ"],
                        "props": c["props"],
                        "isNamed": True,
                        # live reachability probe (the reference tracks
                        # the client's connect/disconnect callbacks)
                        "status": confstore.probe(c["typ"], c["props"]),
                    }
                    for cid, c in sorted(conns.items())
                ]
            if len(parts) == 2:
                cid = parts[1]
                if method == "PUT":
                    conns[cid] = {
                        "typ": body.get("typ", ""),
                        "props": body.get("props") or {},
                    }
                    return 200, "success"
                if cid not in conns:
                    return 404, {"error": f"connection {cid} not found"}
                if method == "GET":
                    c = conns[cid]
                    return 200, {
                        "id": cid,
                        "typ": c["typ"],
                        "props": c["props"],
                        "isNamed": True,
                        "status": confstore.probe(c["typ"], c["props"]),
                    }
                if method == "DELETE":
                    del conns[cid]
                    return 200, {"result": f"connection {cid} dropped"}

        if parts[0] == "data":
            # rest.go:231-233 full-configuration export/import — the
            # Configuration shape (import_export.go:60-73) with this
            # runtime's live sections (streams/tables/rules/schemas/
            # scripts/uploads); plugin/config sections stay empty maps
            import os as _os

            from ekuiper_spark.functions import script as _script
            from ekuiper_spark.operators import codecs as _codecs

            if method in ("GET", "POST") and parts[1:] == ["export"]:
                defs = self.catalog.all_defs()
                return 200, {
                    "streams": {
                        n: self.catalog.ddl_of(n) or ""
                        for n, d in sorted(defs.items())
                        if d.kind not in ("scan", "lookup") and self.catalog.ddl_of(n)
                    },
                    "tables": {
                        n: self.catalog.ddl_of(n) or ""
                        for n, d in sorted(defs.items())
                        if d.kind in ("scan", "lookup") and self.catalog.ddl_of(n)
                    },
                    "rules": {
                        rid: json.dumps(asdict(r))
                        for rid, r in sorted(self.runtime.rules.items())
                    },
                    "nativePlugins": {},
                    "portablePlugins": {},
                    "sourceConfig": {},
                    "sinkConfig": {},
                    "connectionConfig": {},
                    "Service": {},
                    "Schema": {
                        n: json.dumps([list(f) for f in fs])
                        for n, fs in sorted(_codecs.SCHEMA_REGISTRY.items())
                    },
                    "uploads": {
                        _os.path.relpath(_os.path.join(base, n), self.upload_dir):
                            open(_os.path.join(base, n)).read()
                        for base, _d, fs in _os.walk(self.upload_dir)
                        for n in sorted(fs)
                    },
                    "scripts": {
                        fid: spec["script"]
                        for fid, spec in sorted(_script.SCRIPTS.items())
                    },
                }
            if method == "POST" and parts[1:] == ["import"]:
                # body is {"content": "<configuration json>"} (fvt sdk.go
                # Import; import_export.go configurationImport); a raw
                # Configuration object is accepted too
                conf = body
                if "content" in body and isinstance(body["content"], str):
                    try:
                        conf = json.loads(body["content"])
                    except json.JSONDecodeError as e:
                        # Go's truncated-JSON unmarshal error text
                        txt = body["content"]
                        go_msg = (
                            "unexpected end of JSON input"
                            if e.pos >= len(txt.rstrip()) - 1
                            or "Unterminated" in e.msg or "Expecting" in e.msg
                            else e.msg
                        )
                        return 400, {
                            "error": 1000,
                            "message": f"configuration unmarshal with error {go_msg}",
                        }
                counts, errors = self._import_configuration(conf)
                if any(errors[s] for s in errors):
                    return 400, self._import_error_payload(errors)
                return 200, {"imported": counts}
            if method == "GET" and parts[1:] == ["import", "status"]:
                # imports here are synchronous; status reports completion
                return 200, {"status": "finished"}

        if parts[0] in ("streams", "tables"):
            # /tables is the TABLE-kind view of the same registry
            # (rest.go:202-205); /streams lists stream-kind defs
            want_table = parts[0] == "tables"
            kw = "TABLE" if want_table else "STREAM"
            if method == "POST" and len(parts) == 1:
                return 201, {"result": self.processor.exec_stmt(body["sql"])}
            if method == "GET" and len(parts) == 1:
                return 200, sorted(
                    n for n, d in self.catalog.all_defs().items()
                    if (d.kind in ("scan", "lookup")) == want_table
                )
            if method == "GET" and len(parts) == 3 and parts[2] == "schema":
                # rest.go:201/728 GetInferredJsonSchema: typed streams map
                # field -> JsonStreamField {"type","index"}; a schemaless
                # stream falls back to the shared-layer schema merged from
                # the rules attached to it (topo/schema/reg.go:108) —
                # plain attachment yields null entries, useSliceTuple
                # rules yield {"hasIndex": true, "index": n}
                d = self.catalog.get(parts[1])
                if d is None:
                    return 404, {"error": f"unknown stream/table {parts[1]!r}"}
                if d.schema is not None:
                    from ekuiper_spark.catalog import ekuiper_type_name

                    return 200, {
                        f.name: {"type": ekuiper_type_name(f.dataType), "index": 0}
                        for f in d.schema.fields
                    }
                return 200, self._shared_stream_schema(parts[1])
            if method == "GET" and len(parts) == 2:
                return 200, self.processor.exec_stmt(f"DESCRIBE {parts[1]}")
            if method == "DELETE" and len(parts) == 2:
                # rest.go checkStreamBeforeDrop: a stream referenced by a
                # registered rule cannot drop unless ?force=true
                if "force=true" not in query and "force=1" not in query:
                    holders = [
                        rid for rid, rec in self.runtime.records.items()
                        if parts[1].lower() in self._rule_sources(rec.stmt)
                    ]
                    if holders:
                        return 400, {
                            "error": f"stream {parts[1]} has been referenced by other rules"
                        }
                return 200, {"result": self.processor.exec_stmt(f"DROP {kw} {parts[1]}")}

        if parts[0] == "rules":
            if method == "POST" and len(parts) == 1:
                err = self._validate_id(str(body.get("id", "")))
                if err:
                    return 400, {"error": 1000, "message": f"invalid rule json: {err}"}
                rule = Rule.from_spec(body)
                if rule.id in self.runtime.records:
                    raise ValueError(f"rule {rule.id} exists")
                # reference rules RUN on create unless triggered=false
                # (server.go createRule -> registry start); start errors
                # are RUNTIME errors — the rule stays registered and its
                # status carries the failure, create still returns 201.
                # SQL that does not parse is rejected instead.
                rec = self.runtime.put_rule(rule)
                if rec.parse_error is not None:
                    self.runtime.delete_rule(rule.id)
                    return 400, {"error": f"invalid rule json: {rec.parse_error}"}
                return 201, {"result": f"rule {rule.id} created"}
            if parts[1:] == ["tags", "match"]:
                # rule_tag.go:205 — match = requested tags are a SUBSET of
                # the rule's tags
                want = set(body.get("tags") or [])
                return 200, {
                    "rules": sorted(
                        rid for rid, r in self.runtime.rules.items()
                        if want <= set(r.tags)
                    )
                }
            if method == "GET" and len(parts) == 1:
                return 200, [
                    {"id": rid, **self.runtime.status(rid)}
                    for rid in sorted(self.runtime.records)
                ]
            if method == "GET" and parts[1:] == ["status", "all"]:
                return 200, {
                    rid: self.runtime.status(rid) for rid in sorted(self.runtime.records)
                }
            if method == "POST" and parts[1:] == ["bulkstart"]:
                # rest.go:225: start many rules in one call
                started, failed = [], {}
                for rid in body.get("rules", []):
                    try:
                        self.runtime.start_rule(rid)
                        started.append(rid)
                    except Exception as e:
                        failed[rid] = str(e)
                return 200, {"started": started, "failed": failed}
            if method == "POST" and parts[1:] == ["bulkstop"]:
                stopped = []
                for rid in body.get("rules", []):
                    try:
                        self.runtime.stop_rule(rid)
                        stopped.append(rid)
                    except Exception:
                        pass
                return 200, {"stopped": stopped}
            if method == "POST" and parts[1:] == ["validate"]:
                # parse + compile without registering (rest.go:219)
                try:
                    compile_sql(self.spark, body["sql"], self.catalog)
                    return 200, {"valid": True}
                except Exception as e:
                    return 200, {"valid": False, "error": f"{type(e).__name__}: {e}"}
            if len(parts) >= 2:
                rid = parts[1]
                if method == "PUT" and len(parts) == 2:
                    # UPSERT (rest.go ruleUpdateHandler / fvt rulestate
                    # TestUpdate): create-if-missing; a lower `version`
                    # than the stored rule's is rejected; the new spec
                    # runs unless triggered=false
                    old = self.runtime.rules.get(rid)
                    new_version = str(body.get("version", ""))
                    if old is not None and old.version and new_version \
                            and new_version < old.version:
                        return 400, {
                            "error": f"rule {rid} version {new_version} is "
                                     f"lower than current {old.version}"
                        }
                    spec = {"sql": "", **(asdict(old) if old else {}),
                            "triggered": True, **body}
                    spec["version"] = new_version or (old.version if old else "")
                    self.runtime.put_rule(Rule.from_spec(spec, rid))
                    return 200, {"result": f"rule {rid} updated"}
                rec = self.runtime.records.get(rid)
                if rec is None:
                    return 404, {"error": f"rule {rid} not found"}
                if method == "GET" and len(parts) == 2:
                    return 200, asdict(rec.rule)
                if method == "DELETE" and len(parts) == 2:
                    self.runtime.delete_rule(rid)
                    return 200, {"result": f"rule {rid} dropped"}
                if method == "POST" and len(parts) == 3 and parts[2] == "start":
                    q = self.runtime.start_rule(rid, available_now="availableNow=1" in query)
                    if "availableNow=1" in query:
                        q.awaitTermination()
                    return 200, {"result": f"rule {rid} started"}
                if method == "POST" and len(parts) == 3 and parts[2] == "stop":
                    self.runtime.stop_rule(rid)
                    return 200, {"result": f"rule {rid} stopped"}
                if method == "GET" and len(parts) == 3 and parts[2] == "status":
                    st = self.runtime.status(rid)
                    if rec.start_error and st.get("status") == "stopped":
                        st["message"] = rec.start_error
                    return 200, st
                if method == "POST" and len(parts) == 3 and parts[2] == "restart":
                    self.runtime.stop_rule(rid)
                    self.runtime.start_rule(rid, available_now="availableNow=1" in query)
                    return 200, {"result": f"rule {rid} restarted"}
                if method == "GET" and len(parts) == 3 and parts[2] == "explain":
                    # "logical" = the reference's ExplainFromLogicalPlan
                    # text (planner.go:344; plan_explain_test.go goldens);
                    # "plan" = Catalyst's physical plan (richer)
                    from ekuiper_spark.plans.explain import explain_statement

                    out = {"plan": self.processor.exec_stmt("EXPLAIN " + rec.rule.sql)}
                    try:
                        out["logical"] = explain_statement(
                            rec.stmt,
                            self.catalog,
                            is_event_time=bool((rec.rule.options or {}).get("isEventTime")),
                        )
                    except Exception as e:
                        out["logical"] = f"unavailable: {e}"
                    return 200, out
                if method == "GET" and len(parts) == 3 and parts[2] == "topo":
                    return 200, self._topo(rec)
                if len(parts) == 3 and parts[2] == "tags":
                    # rule_tag.go:111: PUT replaces, PATCH adds, DELETE
                    # removes; body = {"tags": [...]}
                    req = list(body.get("tags") or [])
                    r = rec.rule
                    if method == "PUT":
                        r.tags = req
                    elif method == "PATCH":
                        r.tags = r.tags + [t for t in req if t not in r.tags]
                    elif method == "DELETE":
                        r.tags = [t for t in r.tags if t not in req]
                    else:
                        return 404, {"error": "tags supports PUT/PATCH/DELETE"}
                    return 200, {"tags": r.tags}
                if method == "POST" and len(parts) == 4 and parts[2] == "trace":
                    # rest.go:216-217 rule tracing toggle (strategy
                    # "always"|"head", StringToStrategy defaults always:
                    # always samples a wide per-batch window, head keeps
                    # the head-of-micro-batch tuples)
                    if parts[3] == "start":
                        strat = str(
                            (body or {}).get("strategy", "always")
                        ).lower() if isinstance(body, dict) else "always"
                        self.runtime.set_tracing(
                            rid, strat if strat in ("always", "head") else "always"
                        )
                        return 200, {"result": f"rule {rid} tracing enabled"}
                    if parts[3] == "stop":
                        self.runtime.set_tracing(rid, None)
                        return 200, {"result": f"rule {rid} tracing disabled"}
                if method == "PUT" and len(parts) == 3 and parts[2] == "reset_state":
                    # rest.go /rules/{name}/reset_state
                    self.runtime.reset_state(rid)
                    return 200, {"result": f"rule {rid} state reset"}
                if method == "GET" and len(parts) == 3 and parts[2] == "schema":
                    # rest.go:215 rule output schema: column -> slice index
                    # (fvt TestRuleSchema shape: {hasIndex, index})
                    try:
                        out = compile_sql(self.spark, rec.rule.sql, self.catalog)
                    except Exception as e:
                        return 400, {"error": f"{type(e).__name__}: {e}"}
                    return 200, {
                        c: {"hasIndex": True, "index": i}
                        for i, c in enumerate(out.columns)
                    }
                if method == "GET" and len(parts) == 3 and parts[2] == "scantables":
                    # scan_table_shower.go:32: snapshot the scan-table
                    # content a joining rule aligns against
                    import re as _re

                    words = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", rec.rule.sql))
                    hits = [
                        (n, b) for n, b in self.runtime.scan_tables.items()
                        if n in words
                    ]
                    if not hits:
                        return 400, {"error": f"join node is not found for {rid}"}
                    res = [
                        {"emitter": n, "content": row}
                        for n, b in hits
                        for row in b.snapshot()
                    ]
                    if not res:
                        return 400, {
                            "error": "unable to find tuples for the given scan table"
                        }
                    return 200, res

        if parts[0] == "async":
            # async_rest.go:36-100: /async/data/import registers a
            # background import task; /async/task/{id} reports its
            # status; /async/task/{id}/cancel cancels it.  Status
            # lifecycle register -> running -> finish|error|cancel
            # (async.go:29-34, AsyncTaskStatus shape async.go:170-176).
            import time as _time

            if method == "POST" and parts[1:] == ["data", "import"]:
                task_id = f"dataImport-{int(_time.time())}"
                n = int(_time.time())
                st = {
                    "id": task_id, "status": "register", "message": "",
                    "createdTimestamp": n, "updatedTimestamp": n,
                }
                self.async_tasks[task_id] = st
                cancel = threading.Event()
                self._async_cancels[task_id] = cancel

                def work(b=body, tid=task_id, ev=cancel):
                    s = self.async_tasks[tid]
                    s["status"] = "running"
                    s["updatedTimestamp"] = int(_time.time())
                    try:
                        conf = b
                        if "content" in b and isinstance(b["content"], str):
                            conf = json.loads(b["content"])
                        counts, errs = self._import_configuration(conf)
                        if ev.is_set():
                            return  # cancel won the race; keep "cancel"
                        if any(errs[x] for x in errs):
                            s["status"] = "error"
                            s["message"] = self._import_error_payload(errs)["message"]
                        else:
                            s["status"] = "finish"
                            s["message"] = json.dumps({"imported": counts})
                    except Exception as e:
                        if not ev.is_set():
                            s["status"] = "error"
                            s["message"] = str(e)
                    s["updatedTimestamp"] = int(_time.time())

                t = threading.Thread(target=work, daemon=True)
                t.start()
                self._async_threads[task_id] = t
                return 200, {"id": task_id}
            if parts[1] == "task" and len(parts) >= 3:
                task_id = parts[2]
                st = self.async_tasks.get(task_id)
                if st is None:
                    return 404, {"error": f"async task: {task_id} not found"}
                if method == "GET" and len(parts) == 3:
                    return 200, st
                if method == "POST" and parts[3:] == ["cancel"]:
                    self._async_cancels[task_id].set()
                    st["status"] = "cancel"
                    st["updatedTimestamp"] = int(__import__("time").time())
                    return 200, {"result": "cancel success"}

        if parts[0] == "tracer" and method == "POST":
            # tracer.go:43-61 SetTracer: action start|stop toggles the
            # remote collector; config persists for later /tracer calls
            self.tracer_config = {
                "enableRemoteCollector": body.get("action") == "start",
                "serviceName": body.get("service_name") or "kuiperd-service",
                "remoteEndpoint": body.get("collector_url") or "",
            }
            return 200, {"result": "success"}

        if parts[0] == "metrics" and parts[1:2] == ["dump"]:
            # metrics_init.go:28-47: /metrics/dump/check reports whether
            # dump capture is on; /metrics/dump serves a zip of the
            # per-rule metric snapshots in the requested window (binary
            # body, application/zip like downloadHandler)
            if method == "GET" and parts[2:] == ["check"]:
                return 200, {"result": "enabled"}
            if method == "GET" and len(parts) == 2:
                import io
                import zipfile

                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
                    for rid in sorted(self.runtime.records):
                        try:
                            z.writestr(
                                f"metrics/{rid}.json",
                                json.dumps(self.runtime.status(rid), default=str),
                            )
                        except Exception as e:
                            z.writestr(f"metrics/{rid}.err", str(e))
                return 200, buf.getvalue()

        if parts[0] == "trace":
            # rest.go:249-250: /trace/rule/{id} lists a traced rule's
            # trace ids; /trace/{id} returns that trace's spans.  A trace
            # = one micro-batch; spans = Spark's durationMs phases.
            def _progress(rid: str) -> list[dict]:
                q = self.runtime.queries.get(rid)
                if q is None:
                    return []
                import json as _json

                out = []
                for p in q.recentProgress or []:
                    out.append(_json.loads(p) if isinstance(p, str) else dict(p))
                return out

            if method == "GET" and len(parts) == 3 and parts[1] == "rule":
                # per-TUPLE trace ids (tracer.go:147
                # GetTraceIDListByRuleID; ?limit=N returns the newest N).
                # Sampling is head-of-micro-batch — Catalyst fuses the op
                # chain, so not every tuple can carry a span the way the
                # reference's per-op decorators do.
                rec = self.runtime.records.get(parts[2])
                if rec is None or not rec.tracing:
                    return 200, []
                ids = list(rec.tuples)
                lim = 0
                for tok in query.split("&"):
                    if tok.startswith("limit="):
                        try:
                            lim = int(tok[len("limit="):])
                        except ValueError:
                            lim = 0
                if lim > 0:
                    ids = ids[-lim:]
                return 200, ids
            if method == "GET" and len(parts) == 2:
                tid = parts[1]
                # per-tuple id: the span tree's data attribute is THAT
                # tuple (every span carries the sink-side tuple — per-hop
                # payloads don't exist under whole-stage codegen)
                for rid2, rec in self.runtime.records.items():
                    if tid in rec.tuples:
                        batch2, row = rec.tuples[tid]
                        spans2 = []
                        for p in _progress(rid2):
                            if str(p.get("batchId")) == str(batch2):
                                spans2 = [
                                    {"name": k, "durationMs": v}
                                    for k, v in (p.get("durationMs") or {}).items()
                                ]
                                break
                        out = {"traceId": tid, "rule": rid2, "spans": spans2}
                        tree = self._trace_tree(rid2, str(batch2), data_row=row)
                        if tree is not None:
                            out.update(tree)
                        return 200, out
                # legacy batch-granularity id: {rule}-{batchId}
                rid, _, batch = tid.rpartition("-")
                for p in _progress(rid):
                    if str(p.get("batchId")) == batch:
                        spans = [
                            {"name": k, "durationMs": v}
                            for k, v in (p.get("durationMs") or {}).items()
                        ]
                        out = {
                            "traceId": tid,
                            "rule": rid,
                            "timestamp": p.get("timestamp"),
                            "numInputRows": p.get("numInputRows"),
                            "spans": spans,
                        }
                        tree = self._trace_tree(rid, batch)
                        if tree is not None:
                            out.update(tree)
                        return 200, out
                return 404, {"error": f"trace {tid!r} not found"}

        if parts == ["batch", "req"] and method == "POST":
            # rest.go:1132 batchRequestHandler: [{method, path, body}] ->
            # [{code, response}] — each sub-request routes through the
            # same dispatch (body is the reference's raw-string form)
            out = []
            for each in (body if isinstance(body, list) else []):
                try:
                    sub_body = each.get("body") or "{}"
                    if isinstance(sub_body, str):
                        sub_body = json.loads(sub_body or "{}")
                    c, resp = self.handle(
                        each.get("method", "GET"), each.get("path", "/"), sub_body
                    )
                    out.append({"code": c, "response": json.dumps(resp, default=str)})
                except Exception as e:
                    out.append({"code": 0, "error": str(e)})
            return 200, out

        if parts == ["ruletest"] and method == "POST":
            if "id" in body:
                # trial lifecycle (rest.go:1065-1083): register the trial
                # and return the websocket port where results stream
                tid = body["id"]
                self.trials[tid] = dict(body)
                return 200, {"id": tid, "port": self._trial_ws().port}
            return 200, self._ruletest(body)

        if parts[0] == "ruletest" and len(parts) == 3 and parts[2] == "start" and method == "POST":
            tid = parts[1]
            if tid not in self.trials:
                return 404, {"error": f"test rule {tid} not found"}
            res = self._ruletest(self.trials[tid])
            ws = self._trial_ws()
            cols = res["columns"]
            for row in res["rows"]:
                # the reference streams each emitted tuple as one JSON
                # message to the trial websocket endpoint
                ws.broadcast(json.dumps(dict(zip(cols, row)), default=str))
            self.trials[tid]["result"] = res
            return 200, f"Test rule {tid} was started"

        if parts[0] == "ruletest" and len(parts) == 2 and method == "DELETE":
            if self.trials.pop(parts[1], None) is None:
                return 404, {"error": f"test rule {parts[1]} not found"}
            return 200, f"Test rule {parts[1]} was stopped."

        return 404, {"error": f"no route {method} {path}"}

    def _trial_ws(self):
        """Lazy shared websocket server for trial-run result streaming
        (the reference serves trials on Source.HttpServerPort)."""
        if self._trial_ws_srv is None:
            from ekuiper_spark.sources.websocket import WsServer

            self._trial_ws_srv = WsServer()
        return self._trial_ws_srv

    def _trace_tree(self, rid: str, batch: str, data_row=None) -> Optional[dict]:
        """The reference's nested span shape (fvt/result/trace/*.json:
        {name, attribute{rule, data}, ChildSpan}) over the rule's
        operator chain.  With ``data_row`` the tree is a per-TUPLE trace
        (every span carries that tuple — Catalyst fuses operators, so
        per-hop payloads don't exist); without it, the legacy
        per-micro-batch tree with a bounded sink-row sample."""
        rec = self.runtime.records.get(rid)
        if rec is None or rec.stmt is None:
            return None
        topo = self._topo(rec)
        if data_row is not None:
            data = json.dumps(data_row, default=str, separators=(",", ":"))
        else:
            sample = rec.samples.get(int(batch) if str(batch).isdigit() else -1)
            data = (
                json.dumps(sample, default=str, separators=(",", ":"))
                if sample
                else ""
            )
        chain: list[str] = []
        node = topo["edges"].get(topo["sources"][0], [None])[0]
        seen = set()
        while node and node not in seen:
            seen.add(node)
            chain.append(node)
            node = (topo["edges"].get(node) or [None])[0]
        names = [topo["sources"][0].replace("source_", "", 1)]
        for i, op in enumerate(c for c in chain if not c.startswith("sink_")):
            names.append(f"{i + 2}_{op.replace('op_', '', 1)}")
        sink = (chain[-1] if chain and chain[-1].startswith("sink_") else "sink_log")
        sname = sink.replace("sink_", "", 1)
        names += [f"{sname}_0_0_transform", f"{sname}_0_1_encode", f"{sname}_0"]
        tree: Optional[dict] = None
        for name in reversed(names):
            span = {
                "name": name,
                "attribute": {"rule": rid, "data": data},
            }
            if tree is not None:
                span["ChildSpan"] = [tree]
            tree = span
        if tree is not None:
            tree["attribute"]["span.mytype"] = "data-processing"
        return tree

    @staticmethod
    def _topo(rec: RuleRecord) -> dict:
        """Operator topology of a rule (rest.go:214 getTopoRuleHandler):
        {"sources": [...], "edges": {node: [next, ...]}} in the planner's
        operator-chain order (source -> window -> join -> filter -> agg ->
        having -> order -> project -> sinks)."""
        if rec.parse_error is not None:
            raise rec.parse_error
        stmt = rec.stmt
        sources = [f"source_{stmt.source}"] + [
            f"source_{j.source}" for j in stmt.joins
        ]
        chain: list[str] = []
        if stmt.group is not None and getattr(stmt.group, "window", None) is not None:
            chain.append(f"op_window_{stmt.group.window.kind}")
        if stmt.joins:
            chain.append("op_join")
        if stmt.where is not None:
            chain.append("op_filter")
        if stmt.group is not None and stmt.group.dims:
            chain.append("op_aggregate")
        elif stmt.group is not None and getattr(stmt.group, "window", None) is not None:
            chain.append("op_window_agg")
        if stmt.having is not None:
            chain.append("op_having")
        if stmt.order:
            chain.append("op_order")
        chain.append("op_project")
        sinks = [f"sink_{next(iter(a))}" for a in rec.rule.actions] or ["sink_log"]
        edges: dict[str, list[str]] = {}
        for s in sources:
            edges[s] = [chain[0]]
        for a, b in zip(chain, chain[1:]):
            edges[a] = [b]
        edges[chain[-1]] = sinks
        return {"sources": sources, "edges": edges}

    def _ruletest(self, body: dict) -> dict:
        """Bounded trial run with optional mock sources
        (internal/trial/ + planner.go:49-97 mock-source injection)."""
        limit = int(body.get("limit", 100))
        injected: dict[str, object] = {}
        for name, spec in (body.get("mockSource") or {}).items():
            # the reference mock-source conf is {"data": [...], "loop",
            # "interval"} (trial/def.go); a bare row list is accepted too
            rows = spec.get("data") if isinstance(spec, dict) else spec
            d = self.catalog.get(name)
            if d is not None and d.schema is not None:
                # typed stream: replay the mock rows through the DECLARED
                # schema (arrays of objects become STRUCT arrays, not maps)
                raw = self.spark.createDataFrame(
                    [(json.dumps(r),) for r in rows], "value string"
                ).coalesce(1)
                from pyspark.sql import functions as _F

                df = raw.select(
                    _F.from_json("value", d.schema).alias("j")
                ).select("j.*")
            else:
                from ekuiper_spark.sources.mock import simulator_batch_df

                df = simulator_batch_df(self.spark, rows)
            # a mock may shadow an existing registration (the reference's
            # primary trial-run use case); snapshot the prior DF so cleanup
            # restores rather than deletes it
            injected[name] = self.catalog._dfs.get(name.lower())
            self.catalog.register_df(name, df)
        try:
            df = compile_sql(self.spark, body["sql"], self.catalog)
            rows = df.limit(limit).collect()
            return {
                "columns": df.columns,
                "rows": [list(r) for r in rows],
            }
        finally:
            for name, prior in injected.items():
                if prior is not None:
                    self.catalog.register_df(name, prior)
                else:
                    self.catalog.unregister_df(name)

    # ------------------------------------------------------------------ #
    def start(self) -> "RestServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        import shutil

        for rid in list(self.runtime.records):
            try:
                self.runtime.stop_rule(rid)
            except Exception:
                pass
        if self._trial_ws_srv is not None:
            self._trial_ws_srv.close()
            self._trial_ws_srv = None
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
        shutil.rmtree(self.upload_dir, ignore_errors=True)

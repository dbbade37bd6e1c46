"""REST control plane end-to-end (internal/server/rest.go:195-254 analog):
stream DDL, rule CRUD/lifecycle, status/explain, trial run."""

from __future__ import annotations

import json
import urllib.request

import pytest

from ekuiper_spark.catalog import Catalog
from ekuiper_spark.server import RestServer


@pytest.fixture(scope="module")
def server(spark):
    cat = Catalog.from_dir("/root/testdata/sf0.001")
    srv = RestServer(spark, cat).start()
    yield srv
    srv.stop()


def _req(server, method, path, body=None):
    url = f"http://127.0.0.1:{server.port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    if data:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_root_info(server):
    code, body = _req(server, "GET", "/")
    assert code == 200 and body["product"] == "ekuiper_spark"


def test_stream_ddl_lifecycle(server):
    code, _ = _req(server, "POST", "/streams", {
        "sql": 'CREATE STREAM resttest (a BIGINT, b STRING) WITH (FORMAT="json", DATASOURCE="/tmp/x.json")'
    })
    assert code == 201
    code, names = _req(server, "GET", "/streams")
    assert code == 200 and "resttest" in names
    code, desc = _req(server, "GET", "/streams/resttest")
    assert code == 200 and desc["format"] == "json"
    code, _ = _req(server, "DELETE", "/streams/resttest")
    assert code == 200
    code, names = _req(server, "GET", "/streams")
    assert "resttest" not in names


def test_rule_crud_and_bounded_run(server, spark):
    rule = {
        "id": "rest_r1",
        "sql": "SELECT event_id, value FROM events WHERE value > 150",
        "actions": [{"memory": {"table": "rest_r1_out"}}],
        "options": {"output_mode": "append"},
    }
    code, _ = _req(server, "POST", "/rules", rule)
    assert code == 201
    code, spec = _req(server, "GET", "/rules/rest_r1")
    assert code == 200 and spec["sql"] == rule["sql"]
    code, body = _req(server, "GET", "/rules/rest_r1/explain")
    assert code == 200 and "value" in body["plan"]
    # bounded run (availableNow) then check the sink table materialized
    code, _ = _req(server, "POST", "/rules/rest_r1/start?availableNow=1")
    assert code == 200
    n = spark.table("rest_r1_out").count()
    batch = spark.sql("SELECT 1").sparkSession  # noqa: session alive
    assert n > 0
    code, st = _req(server, "GET", "/rules/rest_r1/status")
    assert code == 200 and st["state"] in ("running", "finished", "stopped")
    code, _ = _req(server, "DELETE", "/rules/rest_r1")
    assert code == 200
    code, _ = _req(server, "GET", "/rules/rest_r1")
    assert code == 404


def test_rule_update_put(server):
    """PUT /rules/{id} replaces the spec (rest.go rule update)."""
    rule = {
        "id": "rest_upd",
        "sql": "SELECT event_id FROM events WHERE value > 100",
        "actions": [{"memory": {"table": "rest_upd_out"}}],
        "options": {"output_mode": "append"},
    }
    code, _ = _req(server, "POST", "/rules", rule)
    assert code == 201
    code, _ = _req(server, "PUT", "/rules/rest_upd", {
        "sql": "SELECT event_id, value FROM events WHERE value > 190"
    })
    assert code == 200
    code, spec = _req(server, "GET", "/rules/rest_upd")
    assert "value > 190" in spec["sql"]
    assert spec["actions"] == rule["actions"]  # unchanged fields persist
    code, _ = _req(server, "DELETE", "/rules/rest_upd")
    assert code == 200


def test_ping_validate_status_all(server):
    code, body = _req(server, "GET", "/ping")
    assert (code, body) == (200, {"result": "pong"})
    code, body = _req(server, "POST", "/rules/validate",
                      {"sql": "SELECT event_id FROM events WHERE value > 1"})
    assert (code, body["valid"]) == (200, True)
    code, body = _req(server, "POST", "/rules/validate",
                      {"sql": "SELECT FROM WHERE"})
    assert code == 200 and body["valid"] is False and body["error"]
    code, body = _req(server, "GET", "/rules/status/all")
    assert code == 200 and isinstance(body, dict)


def test_rule_topo(server):
    rule = {
        "id": "rest_topo",
        "sql": "SELECT event_type, count(*) AS n FROM events "
               "WHERE value > 10 GROUP BY event_type, TUMBLINGWINDOW(ss, 10) "
               "HAVING count(*) > 1 ORDER BY n DESC LIMIT 5",
        "actions": [{"memory": {"table": "rest_topo_out"}}],
    }
    code, _ = _req(server, "POST", "/rules", rule)
    assert code == 201
    code, topo = _req(server, "GET", "/rules/rest_topo/topo")
    assert code == 200
    assert topo["sources"] == ["source_events"]
    # planner chain order: window -> filter -> agg -> having -> order -> project -> sink
    chain = []
    node = topo["edges"]["source_events"][0]
    while node in topo["edges"]:
        chain.append(node)
        node = topo["edges"][node][0]
    chain.append(node)
    assert chain == [
        "op_window_tumbling", "op_filter", "op_aggregate", "op_having",
        "op_order", "op_project", "sink_memory",
    ]
    _req(server, "DELETE", "/rules/rest_topo")


def test_ruleset_export_import_roundtrip(server):
    rule = {
        "id": "rest_rs",
        "sql": "SELECT event_id FROM events WHERE value > 150",
        "actions": [{"memory": {"table": "rest_rs_out"}}],
        "options": {},
    }
    tagged = {
        "id": "rest_rs_tagged",
        "sql": "SELECT event_id FROM events",
        "actions": [{"nop": {}}],
        "options": {},
        "tags": ["east", "hot"],
        "name": "tagged rule",
        "version": "7",
        "triggered": False,
    }
    for r in (rule, tagged):
        code, _ = _req(server, "POST", "/rules", r)
        assert code == 201
    code, dump = _req(server, "POST", "/ruleset/export")
    assert code == 200 and {"rest_rs", "rest_rs_tagged"} <= set(dump["rules"])
    assert "events" in dump["streams"]
    assert dump["streams"]["events"].upper().startswith("CREATE ")
    # drop, then restore from the export
    _req(server, "DELETE", "/rules/rest_rs")
    _req(server, "DELETE", "/rules/rest_rs_tagged")
    code, body = _req(server, "POST", "/ruleset/import", dump)
    assert code == 200 and body["imported"]["rules"] >= 2
    code, spec = _req(server, "GET", "/rules/rest_rs")
    assert code == 200 and spec["sql"] == rule["sql"]
    code, spec = _req(server, "GET", "/rules/rest_rs_tagged")
    assert code == 200 and spec == tagged
    _req(server, "DELETE", "/rules/rest_rs")
    _req(server, "DELETE", "/rules/rest_rs_tagged")


def test_delete_drops_rule_state(server):
    """DELETE /rules/{id} drops everything the rule held: a re-created
    rule of the same id counts its sink rows afresh, is untraced, and
    shows no stale restart count or start-error message."""
    rule = {
        "id": "del_r1",
        "sql": "SELECT event_id FROM events WHERE value > 150",
        "actions": [{"nop": {}}],
        "triggered": False,
    }
    code, _ = _req(server, "POST", "/rules", {
        **rule, "options": {"restartStrategy": {"attempts": 2, "delay": "100ms"}},
    })
    assert code == 201
    assert _req(server, "POST", "/rules/del_r1/trace/start")[0] == 200
    assert _req(server, "POST", "/rules/del_r1/start?availableNow=1")[0] == 200
    _, st = _req(server, "GET", "/rules/del_r1/status")
    n = st["sink_nop_0_0_records_out_total"]
    assert n > 0 and st["restarts"] == 0
    _, ids = _req(server, "GET", "/trace/rule/del_r1")
    assert ids
    assert _req(server, "DELETE", "/rules/del_r1")[0] == 200
    # an auto-start that fails leaves its message on the rule
    code, _ = _req(server, "PUT", "/rules/del_r1", {
        **rule, "triggered": True, "options": {"cron": "* * * * *"},
    })
    assert code == 200
    _, st = _req(server, "GET", "/rules/del_r1/status")
    assert "duration" in st["message"]
    assert _req(server, "DELETE", "/rules/del_r1")[0] == 200

    code, _ = _req(server, "POST", "/rules", rule)
    assert code == 201
    _, st = _req(server, "GET", "/rules/del_r1/status")
    assert "message" not in st
    assert _req(server, "POST", "/rules/del_r1/start?availableNow=1")[0] == 200
    _, st = _req(server, "GET", "/rules/del_r1/status")
    assert st["sink_nop_0_0_records_out_total"] == n
    assert "restarts" not in st and "message" not in st
    assert _req(server, "GET", "/trace/rule/del_r1") == (200, [])
    _req(server, "DELETE", "/rules/del_r1")


def test_stop_removes_upload_dir(spark, catalog):
    import os

    srv = RestServer(spark, catalog).start()
    code, _ = _req(srv, "POST", "/config/uploads", {"name": "a/b.txt", "content": "x"})
    assert code == 201 and os.path.isdir(srv.upload_dir)
    srv.stop()
    assert not os.path.exists(srv.upload_dir)


def test_schema_registry_endpoints(server):
    fields = [[1, "device", "string"], [2, "temperature", "double"]]
    code, _ = _req(server, "POST", "/schemas/protobuf", {"name": "sensor", "fields": fields})
    assert code == 201
    code, names = _req(server, "GET", "/schemas/protobuf")
    assert code == 200 and "sensor" in names
    code, spec = _req(server, "GET", "/schemas/protobuf/sensor")
    assert code == 200 and spec["fields"] == fields
    # the registered SCHEMAID resolves in the codec layer
    from ekuiper_spark.operators.codecs import pb_encode_row, resolve_schema

    sch = resolve_schema(schemaid="sensor")
    assert pb_encode_row({"device": "d", "temperature": None}, sch) == b"\x0a\x01d"
    code, _ = _req(server, "DELETE", "/schemas/protobuf/sensor")
    assert code == 200
    code, _ = _req(server, "GET", "/schemas/protobuf/sensor")
    assert code == 404
    code, _ = _req(server, "GET", "/schemas/avro")
    assert code == 404


def test_rule_validation_errors(server):
    code, body = _req(server, "GET", "/rules/nonexistent/status")
    assert code == 404
    code, body = _req(server, "POST", "/streams", {"sql": "CREATE NONSENSE x"})
    assert code == 400 and "error" in body


def test_ruletest_trial_run_with_mock_source(server):
    """The /ruletest endpoint injects mock rows as a source and returns the
    bounded result (internal/trial/ analog)."""
    code, body = _req(server, "POST", "/ruletest", {
        "sql": "SELECT temperature * 2 AS t2 FROM mockdemo WHERE temperature > 20",
        "mockSource": {
            "mockdemo": [
                {"temperature": 10}, {"temperature": 25}, {"temperature": 30},
            ]
        },
    })
    assert code == 200
    assert body["columns"] == ["t2"]
    assert sorted(r[0] for r in body["rows"]) == [50, 60]


def test_ruletest_on_registered_tables(server):
    code, body = _req(server, "POST", "/ruletest", {
        "sql": "SELECT count(*) AS n FROM events WHERE value > 100",
        "limit": 5,
    })
    assert code == 200 and body["rows"][0][0] > 0


def test_ruletest_mock_shadowing_registered_stream(server):
    """A mock source with the SAME name as a registered stream (the
    reference's primary trial-run use case, planner.go:49-97 mock
    injection) must not delete the real stream definition: after the
    trial, rules against the stream still compile and see real data."""
    code, body = _req(server, "POST", "/ruletest", {
        "sql": "SELECT value * 2 AS v2 FROM events WHERE value > 100",
        "mockSource": {
            "events": [{"value": 50.0}, {"value": 150.0}],
        },
    })
    assert code == 200
    assert [r[0] for r in body["rows"]] == [300.0]
    # the real CREATE STREAM definition must survive the trial cleanup
    code, body = _req(server, "POST", "/ruletest", {
        "sql": "SELECT count(*) AS n FROM events WHERE value > 100",
    })
    assert code == 200 and body["rows"][0][0] > 2


def test_tables_and_schema_endpoints(server):
    """rest.go:202-205 /tables + :201 schema endpoints: the TABLE-kind
    view of the registry and per-def field->type maps."""
    code, _ = _req(
        server, "POST", "/streams",
        {"sql": 'CREATE TABLE t_sch (id BIGINT, name STRING) WITH (DATASOURCE="x", TYPE="mock")'},
    )
    assert code == 201
    code, tables = _req(server, "GET", "/tables")
    assert code == 200 and "t_sch" in tables
    code, streams = _req(server, "GET", "/streams")
    assert "t_sch" not in streams
    code, schema = _req(server, "GET", "/tables/t_sch/schema")
    # JsonStreamField shape (fvt rule_test.go TestStreamSchema)
    assert code == 200 and schema == {
        "id": {"type": "bigint", "index": 0},
        "name": {"type": "string", "index": 0},
    }
    code, _ = _req(server, "DELETE", "/tables/t_sch")
    assert code == 200
    code, _ = _req(server, "GET", "/tables/t_sch/schema")
    assert code == 404


def test_rules_bulk_start_stop(server):
    """rest.go:225-226 bulkstart/bulkstop."""
    for rid in ("bulk_a", "bulk_b"):
        code, _ = _req(
            server, "POST", "/rules",
            {"id": rid, "sql": "SELECT event_id FROM events WHERE value > 150",
             "actions": [{"memory": {"table": f"t_{rid}"}}],
             "options": {"output_mode": "append"}},
        )
        assert code == 201
    code, res = _req(server, "POST", "/rules/bulkstart", {"rules": ["bulk_a", "bulk_b", "nope"]})
    assert code == 200
    assert sorted(res["started"]) == ["bulk_a", "bulk_b"] and "nope" in res["failed"]
    code, res = _req(server, "POST", "/rules/bulkstop", {"rules": ["bulk_a", "bulk_b"]})
    assert code == 200 and sorted(res["stopped"]) == ["bulk_a", "bulk_b"]
    for rid in ("bulk_a", "bulk_b"):
        _req(server, "DELETE", f"/rules/{rid}")


def test_rule_scantables_snapshot(server, tmp_path):
    """GET /rules/{id}/scantables returns the aligned scan-table content a
    joining rule sees (scan_table_shower.go:32: one {emitter, content}
    entry per buffered tuple); no scan table in the rule -> the
    reference's join-node error."""
    from ekuiper_spark.sources.scantable import ScanTableBuffer

    buf = ScanTableBuffer(str(tmp_path / "devices.json"), retain_size=3)
    buf.append_rows(
        [
            {"id": 1, "name": "Device1"},
            {"id": 2, "name": "Device2"},
        ]
    )
    server.runtime.register_scan_table("deviceTable", buf)
    code, _ = _req(
        server, "POST", "/rules",
        {"id": "join_scan", "sql": "SELECT event_id FROM events INNER JOIN deviceTable ON events.event_id = deviceTable.id"},
    )
    assert code == 201
    code, body = _req(server, "GET", "/rules/join_scan/scantables")
    assert code == 200
    assert body == [
        {"emitter": "deviceTable", "content": {"id": 1, "name": "Device1"}},
        {"emitter": "deviceTable", "content": {"id": 2, "name": "Device2"}},
    ]
    # a rule without any registered scan table errors like the reference
    code, _ = _req(
        server, "POST", "/rules",
        {"id": "no_scan", "sql": "SELECT event_id FROM events"},
    )
    assert code == 201
    code, body = _req(server, "GET", "/rules/no_scan/scantables")
    assert code == 400 and "join node is not found" in body["error"]


def test_rule_schema_endpoint(server):
    """GET /rules/{id}/schema (rest.go:215): output column -> slice index
    in the fvt TestRuleSchema shape."""
    code, _ = _req(
        server, "POST", "/rules",
        {"id": "schema_rule", "sql": "SELECT event_id, event_type FROM events"},
    )
    assert code == 201
    code, body = _req(server, "GET", "/rules/schema_rule/schema")
    assert code == 200
    assert body == {
        "event_id": {"hasIndex": True, "index": 0},
        "event_type": {"hasIndex": True, "index": 1},
    }


def test_config_uploads_lifecycle(server):
    """/config/uploads JSON fileContent variant (rest.go:415-441): POST
    {name, content} writes into the upload dir and returns the absolute
    path; GET lists; DELETE removes; a missing field is a 400."""
    code, path = _req(
        server, "POST", "/config/uploads",
        {"name": "init.json", "content": '[{"id": 1}]'},
    )
    assert code == 201 and path.endswith("/init.json")
    with open(path) as f:
        assert f.read() == '[{"id": 1}]'
    code, listing = _req(server, "GET", "/config/uploads")
    assert code == 200 and path in listing
    code, _ = _req(server, "POST", "/config/uploads", {"name": "x"})
    assert code == 400
    code, _ = _req(server, "DELETE", "/config/uploads/init.json")
    assert code == 200
    code, listing = _req(server, "GET", "/config/uploads")
    assert path not in listing
    code, _ = _req(server, "DELETE", "/config/uploads/init.json")
    assert code == 404


def test_rule_tags_crud_and_match(server):
    """rule_tag.go: PUT replaces, PATCH adds, DELETE removes; GET
    /rules/tags/match returns rules whose tags contain ALL requested."""
    for rid, tags in [("tag_a", ["edge", "prod"]), ("tag_b", ["edge"])]:
        code, _ = _req(
            server, "POST", "/rules",
            {"id": rid, "sql": "SELECT event_id FROM events", "tags": tags},
        )
        assert code == 201
    code, body = _req(server, "GET", "/rules/tags/match", {"tags": ["edge"]})
    assert code == 200 and set(body["rules"]) >= {"tag_a", "tag_b"}
    code, body = _req(server, "GET", "/rules/tags/match", {"tags": ["edge", "prod"]})
    assert code == 200 and "tag_a" in body["rules"] and "tag_b" not in body["rules"]
    code, body = _req(server, "PATCH", "/rules/tag_b/tags", {"tags": ["prod", "edge"]})
    assert code == 200 and body["tags"] == ["edge", "prod"]
    code, body = _req(server, "DELETE", "/rules/tag_b/tags", {"tags": ["edge"]})
    assert code == 200 and body["tags"] == ["prod"]
    code, body = _req(server, "PUT", "/rules/tag_b/tags", {"tags": ["x"]})
    assert code == 200 and body["tags"] == ["x"]


def test_batch_request(server):
    """rest.go:1132 /batch/req: sub-requests route through the same
    dispatch and return per-request {code, response} (fvt
    TestBatchRequest shape — body is a raw JSON string)."""
    reqs = [
        {"method": "POST", "path": "/rules",
         "body": json.dumps({"id": "batch_rule", "sql": "SELECT event_id FROM events"})},
        {"method": "GET", "path": "/rules/batch_rule"},
        {"method": "GET", "path": "/rules/definitely_missing"},
    ]
    code, body = _req(server, "POST", "/batch/req", reqs)
    assert code == 200 and len(body) == 3
    assert body[0]["code"] == 201
    assert body[1]["code"] == 200
    assert json.loads(body[1]["response"])["sql"] == "SELECT event_id FROM events"
    assert body[2]["code"] == 404


def test_rule_reset_state(server, spark):
    code, _ = _req(
        server, "POST", "/rules",
        {"id": "reset_me", "sql": "SELECT event_id FROM events"},
    )
    assert code == 201
    code, body = _req(server, "PUT", "/rules/reset_me/reset_state")
    assert code == 200 and "state reset" in body["result"]


def test_data_export_import_roundtrip(server):
    """/data/export|import (import_export.go:60-119): the Configuration
    shape carries streams/tables/rules/scripts/schemas/uploads; import
    restores every section (rules are JSON strings like the reference)."""
    code, _ = _req(server, "POST", "/streams",
                   {"sql": 'CREATE STREAM exp_s (a BIGINT) WITH (FORMAT="json", TYPE="file", DATASOURCE="/tmp/x.json")'})
    assert code == 201
    code, _ = _req(server, "POST", "/rules",
                   {"id": "exp_rule", "sql": "SELECT a FROM exp_s", "tags": ["exported"]})
    assert code == 201
    code, _ = _req(server, "POST", "/config/uploads",
                   {"name": "exp.txt", "content": "hello"})
    assert code == 201
    code, conf = _req(server, "GET", "/data/export")
    assert code == 200
    assert "exp_s" in conf["streams"]
    assert json.loads(conf["rules"]["exp_rule"])["tags"] == ["exported"]
    assert conf["uploads"]["exp.txt"] == "hello"
    assert set(conf) >= {"streams", "tables", "rules", "nativePlugins",
                         "sourceConfig", "sinkConfig", "Schema", "uploads", "scripts"}
    # wipe the rule, then import the snapshot back
    _req(server, "DELETE", "/rules/exp_rule")
    code, body = _req(server, "POST", "/data/import", conf)
    assert code == 200 and body["imported"]["rules"] >= 1
    code, rule = _req(server, "GET", "/rules/exp_rule")
    assert code == 200 and rule["tags"] == ["exported"]
    code, body = _req(server, "GET", "/data/import/status")
    assert code == 200 and body["status"] == "finished"


def test_imported_conf_key_resolves_for_streams(server):
    """/data/import sourceConfig lands in the conf store streams read:
    a non-simulator CONF_KEY resolves after the import."""
    from ekuiper_spark.sources import confstore

    code, body = _req(server, "POST", "/data/import", {
        "sourceConfig": {"mqtt": {"imp_key": {"server": "tcp://imported:1883"}}},
    })
    assert code == 200 and body["imported"]["sourceConfig"] == 1
    props = confstore.resolve_props("mqtt", {"conf_key": "imp_key"})
    assert props["server"] == "tcp://imported:1883"


def test_deleted_conf_key_no_longer_resolves(server):
    """DELETE /metadata/{kind}/{type}/confKeys/{key} removes the key the
    catalog resolves, not just the listing."""
    from ekuiper_spark.sources import confstore

    path = "/metadata/sources/mqtt/confKeys/del_key"
    code, _ = _req(server, "PUT", path, {"server": "tcp://gone:1883"})
    assert code == 200
    assert confstore.resolve_props("mqtt", {"conf_key": "del_key"})["server"] == "tcp://gone:1883"
    code, _ = _req(server, "DELETE", path)
    assert code == 200
    assert "server" not in confstore.resolve_props("mqtt", {"conf_key": "del_key"})
    code, _ = _req(server, "GET", path)
    assert code == 404
    code, _ = _req(server, "DELETE", path)
    assert code == 404


def test_connections_crud(server):
    """/connections named-connection registry (connection.go:33-81
    shapes): POST creates, duplicate id is a 400, GET lists/details,
    PUT upserts, DELETE removes."""
    code, body = _req(server, "POST", "/connections",
                      {"id": "mqtt_east", "typ": "mqtt",
                       "props": {"server": "tcp://broker:1883"}})
    assert code == 201 and body == "success"
    code, _ = _req(server, "POST", "/connections", {"id": "mqtt_east", "typ": "mqtt"})
    assert code == 400
    code, _ = _req(server, "POST", "/connections", {"id": "bad/id"})
    assert code == 400
    code, listing = _req(server, "GET", "/connections")
    assert code == 200
    entry = next(c for c in listing if c["id"] == "mqtt_east")
    assert entry["typ"] == "mqtt" and entry["isNamed"] is True
    code, detail = _req(server, "GET", "/connections/mqtt_east")
    assert code == 200 and detail["props"]["server"] == "tcp://broker:1883"
    code, _ = _req(server, "PUT", "/connections/mqtt_east",
                   {"typ": "mqtt", "props": {"server": "tcp://other:1883"}})
    assert code == 200
    code, detail = _req(server, "GET", "/connections/mqtt_east")
    assert detail["props"]["server"] == "tcp://other:1883"
    code, _ = _req(server, "DELETE", "/connections/mqtt_east")
    assert code == 200
    code, _ = _req(server, "GET", "/connections/mqtt_east")
    assert code == 404


def test_rule_tracing(server, spark):
    """Trace toggle + PER-TUPLE span retrieval (rest.go:216-217,
    249-250; tracer.go:147 GetTraceIDListByRuleID): a traced bounded
    run exposes one trace id per sampled sink TUPLE; each trace is the
    nested span tree whose data attribute is that tuple, plus the
    batch's duration phases; ?limit=N caps the id list."""
    import json as _json

    rule = {
        "id": "trace_r1",
        "sql": "SELECT event_id FROM events",
        "actions": [{"memory": {"table": "trace_r1_out"}}],
        "options": {"output_mode": "append"},
    }
    code, _ = _req(server, "POST", "/rules", rule)
    assert code == 201
    # not traced yet -> empty id list
    code, ids = _req(server, "GET", "/trace/rule/trace_r1")
    assert code == 200 and ids == []
    code, _ = _req(server, "POST", "/rules/trace_r1/trace/start")
    assert code == 200
    code, _ = _req(server, "POST", "/rules/trace_r1/start?availableNow=1")
    assert code == 200
    code, ids = _req(server, "GET", "/trace/rule/trace_r1")
    assert code == 200 and len(ids) >= 1
    # otel-shaped 32-hex tuple trace ids, newest-N via ?limit
    assert all(len(t) == 32 and not t.startswith("trace_r1") for t in ids)
    code, lids = _req(server, "GET", "/trace/rule/trace_r1?limit=1")
    assert code == 200 and lids == ids[-1:]
    code, tr = _req(server, "GET", f"/trace/{ids[-1]}")
    assert code == 200 and tr["rule"] == "trace_r1"
    assert tr["traceId"] == ids[-1]
    assert any(s["name"] == "triggerExecution" for s in tr["spans"])
    # the span tree's data attribute is ONE tuple (an event_id row)
    data = _json.loads(tr["attribute"]["data"])
    assert isinstance(data, dict) and "event_id" in data
    # distinct tuples -> distinct trace payloads where rows differ
    if len(ids) >= 2:
        code, tr2 = _req(server, "GET", f"/trace/{ids[-2]}")
        assert code == 200 and tr2["traceId"] == ids[-2]
    code, _ = _req(server, "POST", "/rules/trace_r1/trace/stop")
    assert code == 200
    code, ids = _req(server, "GET", "/trace/rule/trace_r1")
    assert ids == []
    code, _ = _req(server, "GET", "/trace/trace_r1-99999")
    assert code == 404

    # strategy "head" (rest.go StringToStrategy) samples only the
    # micro-batch head — at most 3 tuple traces per batch vs the wide
    # "always" window above
    rule2 = dict(rule, id="trace_r2",
                 actions=[{"memory": {"table": "trace_r2_out"}}])
    code, _ = _req(server, "POST", "/rules", rule2)
    assert code == 201
    code, _ = _req(server, "POST", "/rules/trace_r2/trace/start",
                   {"strategy": "head"})
    assert code == 200
    code, _ = _req(server, "POST", "/rules/trace_r2/start?availableNow=1")
    assert code == 200
    code, hids = _req(server, "GET", "/trace/rule/trace_r2")
    assert code == 200 and 1 <= len(hids) <= 3


def test_details_configs_cpu_endpoints(server):
    """streamdetails/tabledetails listings (StreamDetail shape), PATCH
    /configs hot update with key validation, and /rules/usage/cpu."""
    code, _ = _req(server, "POST", "/streams",
                   {"sql": 'CREATE STREAM det_s (a BIGINT) WITH (FORMAT="json", TYPE="mqtt", DATASOURCE="t/1")'})
    assert code == 201
    code, details = _req(server, "GET", "/streamdetails")
    assert code == 200
    entry = next(d for d in details if d["name"] == "det_s")
    assert entry["type"] == "mqtt" and entry["format"] == "json"
    code, tdetails = _req(server, "GET", "/tabledetails")
    assert code == 200 and all(d["name"] != "det_s" for d in tdetails)
    code, body = _req(server, "PATCH", "/configs", {"debug": True, "timezone": "UTC"})
    assert code == 200 and body["debug"] is True
    code, body = _req(server, "PATCH", "/configs", {"nonsense": 1})
    assert code == 400
    code, body = _req(server, "GET", "/rules/usage/cpu")
    assert code == 200 and isinstance(body, dict)


def test_ruletest_trial_lifecycle_with_ws_stream(server):
    """Trial-run lifecycle (rest.go:1065-1105): POST /ruletest with an id
    registers the trial and returns the websocket port; /ruletest/{id}/
    start runs it and streams each emitted tuple as one JSON message to
    connected websocket clients; DELETE stops it."""
    from ekuiper_spark.sources.websocket import WsClient

    spec = {
        "id": "trial1",
        "sql": "SELECT a, b FROM trialmock WHERE a > 1",
        "mockSource": {
            "trialmock": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}, {"a": 3, "b": "z"}]
        },
    }
    code, body = _req(server, "POST", "/ruletest", spec)
    assert code == 200 and body["id"] == "trial1" and body["port"] > 0
    client = WsClient("127.0.0.1", body["port"])
    try:
        code, msg = _req(server, "POST", "/ruletest/trial1/start")
        assert code == 200 and "was started" in msg
        got = []
        for _ in range(2):
            m = client.recv_text(timeout=10)
            assert m is not None
            got.append(json.loads(m))
        assert sorted(got, key=lambda d: d["a"]) == [
            {"a": 2, "b": "y"}, {"a": 3, "b": "z"},
        ]
    finally:
        client.close()
    code, msg = _req(server, "DELETE", "/ruletest/trial1")
    assert code == 200 and "was stopped" in msg
    code, _ = _req(server, "POST", "/ruletest/trial1/start")
    assert code == 404


def test_async_data_import_lifecycle(server):
    """async_rest.go:36-100: POST /async/data/import registers a task,
    /async/task/{id} reports register/running/finish, cancel flips the
    status, unknown ids 404 with the reference's message."""
    import time

    payload = {
        "streams": {
            "asyncstream": 'CREATE STREAM asyncstream (a BIGINT) WITH '
                           '(FORMAT="json", DATASOURCE="/tmp/async.json")'
        }
    }
    code, body = _req(server, "POST", "/async/data/import", payload)
    assert code == 200 and body["id"].startswith("dataImport-")
    tid = body["id"]
    for _ in range(100):
        code, st = _req(server, "GET", f"/async/task/{tid}")
        assert code == 200
        assert st["status"] in ("register", "running", "finish")
        if st["status"] == "finish":
            break
        time.sleep(0.05)
    assert st["status"] == "finish"
    assert json.loads(st["message"])["imported"]["streams"] == 1
    assert st["createdTimestamp"] <= st["updatedTimestamp"]
    # the imported stream is live
    code, names = _req(server, "GET", "/streams")
    assert "asyncstream" in names

    code, _ = _req(server, "GET", "/async/task/nope-123")
    assert code == 404

    code, body = _req(server, "POST", "/async/data/import", {"rules": {}})
    tid2 = body["id"] if body["id"] != tid else body["id"]
    code, res = _req(server, "POST", f"/async/task/{tid2}/cancel")
    assert code == 200 and res["result"] == "cancel success"
    _, st2 = _req(server, "GET", f"/async/task/{tid2}")
    assert st2["status"] in ("cancel", "finish")  # cancel raced completion

    _req(server, "DELETE", "/streams/asyncstream")


def test_tracer_config_endpoint(server):
    """tracer.go:43-61 SetTracer: start enables the remote collector,
    stop disables it."""
    code, res = _req(server, "POST", "/tracer", {
        "service_name": "svc", "action": "start",
        "collector_url": "http://127.0.0.1:4318",
    })
    assert code == 200 and res["result"] == "success"
    assert server.tracer_config["enableRemoteCollector"] is True
    assert server.tracer_config["remoteEndpoint"] == "http://127.0.0.1:4318"
    code, res = _req(server, "POST", "/tracer", {"action": "stop"})
    assert code == 200
    assert server.tracer_config["enableRemoteCollector"] is False


def test_metrics_dump_zip(server):
    """metrics_init.go:28-47: /metrics/dump/check reports enablement;
    /metrics/dump serves an application/zip with one entry per rule."""
    import io
    import urllib.request
    import zipfile

    code, res = _req(server, "GET", "/metrics/dump/check")
    assert code == 200 and res["result"] == "enabled"

    url = f"http://127.0.0.1:{server.port}/metrics/dump"
    with urllib.request.urlopen(url) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "application/zip"
        blob = resp.read()
    z = zipfile.ZipFile(io.BytesIO(blob))
    assert z.testzip() is None  # valid archive (may be empty of rules)

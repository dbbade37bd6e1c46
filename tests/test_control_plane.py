"""DDL processor, graph rule API, state windows, stateful streaming."""

from __future__ import annotations

import uuid

import pytest

from ekuiper_spark.catalog import Catalog
from ekuiper_spark.plans.ddl import StreamProcessor
from ekuiper_spark.plans.graph import GraphRulePlanner
from ekuiper_spark.translator import compile_sql


@pytest.fixture()
def processor(spark, catalog):
    return StreamProcessor(spark, Catalog.from_dir("/root/testdata/sf0.001"))


def test_create_show_describe_drop(processor):
    assert "created" in processor.exec_stmt(
        'CREATE STREAM demo (color STRING, size BIGINT, ts BIGINT) '
        'WITH (DATASOURCE="/tmp/x", FORMAT="JSON", TIMESTAMP="ts")'
    )
    assert processor.exec_stmt("SHOW STREAMS") == ["demo"]
    d = processor.exec_stmt("DESCRIBE demo")
    assert d["timestamp"] == "ts" and "color:string" in d["schema"]
    with pytest.raises(ValueError):
        processor.exec_stmt('CREATE STREAM demo () WITH (DATASOURCE="/tmp/y")')
    assert "dropped" in processor.exec_stmt("DROP demo")
    assert processor.exec_stmt("SHOW STREAMS") == []


def test_create_lookup_table(processor):
    processor.exec_stmt(
        'CREATE TABLE t1 (name STRING, id BIGINT) '
        'WITH (DATASOURCE="/tmp/l.json", KIND="lookup", KEY="id")'
    )
    assert processor.exec_stmt("SHOW TABLES")[-1] == "t1" or "t1" in processor.exec_stmt("SHOW TABLES")
    assert processor.exec_stmt("DESCRIBE t1")["kind"] == "lookup"


def test_explain_shows_pushdown(processor):
    txt = processor.exec_stmt("EXPLAIN SELECT event_id FROM events WHERE value > 100")
    assert "PushedFilters" in txt and "GreaterThan(value,100" in txt


def test_graph_rule_pipeline(spark, catalog):
    g = GraphRulePlanner(spark, catalog)
    out = g.plan(
        {
            "nodes": {
                "src": {"type": "source", "props": {"datasource": "events"}},
                "f": {"type": "operator", "nodeType": "filter", "props": {"expr": "value > 100"}},
                "agg": {
                    "type": "operator",
                    "nodeType": "groupby",
                    "props": {"dimensions": ["event_type"], "aggs": ["count(*) AS n"]},
                },
            },
            "topo": {"sources": ["src"], "edges": {"src": ["f"], "f": ["agg"]}},
        }
    )
    df = out["agg"]
    rows = {r["event_type"]: r["n"] for r in df.collect()}
    # cross-check against the SQL path
    sql_rows = {
        r["event_type"]: r["n"]
        for r in compile_sql(
            spark,
            "SELECT event_type, count(*) AS n FROM events WHERE value > 100 GROUP BY event_type",
            catalog,
        ).collect()
    }
    assert rows == sql_rows


def test_graph_join(spark, catalog):
    g = GraphRulePlanner(spark, catalog)
    out = g.plan(
        {
            "nodes": {
                "e": {"type": "source", "props": {"datasource": "events"}},
                "n": {"type": "source", "props": {"datasource": "nation"}},
                "j": {
                    "type": "operator",
                    "nodeType": "join",
                    "props": {"on": "l.user_id = r.n_nationkey", "joinType": "inner",
                              "leftAlias": "l", "rightAlias": "r"},
                },
            },
            "topo": {"sources": ["e", "n"], "edges": {"e": ["j"], "n": ["j"]}},
        }
    )
    assert out["j"].count() > 0


def test_state_window_dual_condition(spark, catalog):
    df = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n FROM events GROUP BY "
        "STATEWINDOW(event_type = 'signup', event_type = 'purchase', user_id)",
        catalog,
        order_cols=["ts", "event_id"],
    )
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["n"] >= 1 for r in rows)


def test_state_window_islands(spark, catalog):
    df = compile_sql(
        spark,
        "SELECT count(*) AS n FROM events GROUP BY STATEWINDOW(value > 150)",
        catalog,
        order_cols=["ts", "event_id"],
    )
    total_in_islands = sum(r["n"] for r in df.collect())
    expected = compile_sql(
        spark, "SELECT count(*) AS n FROM events WHERE value > 150", catalog
    ).collect()[0]["n"]
    assert total_in_islands == expected


def test_rule_runtime_lifecycle(spark, catalog):
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    rule = Rule(
        id="r1",
        sql="SELECT event_id, value FROM events WHERE value > 150",
        actions=[{"memory": {"table": "rt_out_r1"}}],
        options={"output_mode": "append"},
    )
    rt.create_rule(rule)
    with pytest.raises(ValueError):
        rt.create_rule(rule)  # duplicate id
    q = rt.start_rule("r1", available_now=True)
    q.awaitTermination()
    assert rt.status("r1")["state"] in ("running", "finished")
    assert spark.table("rt_out_r1").count() > 0
    rt.stop_rule("r1")
    assert rt.status("r1")["state"] == "stopped"


def test_agg_in_where_rewrite(spark, catalog):
    # reference AggFuncOp (planner.go:789-795): aggs in WHERE become
    # post-aggregation filters; plain conjuncts still push to the scan
    df = compile_sql(
        spark,
        "SELECT event_type, count(*) AS n FROM events "
        "WHERE value > 50 AND count(*) > 70 GROUP BY event_type",
        catalog,
    )
    rows = df.collect()
    assert rows and all(r["n"] > 70 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,50" in plan


def test_get_keyed_state(spark, catalog):
    from ekuiper_spark.streaming.keyedstate import default_store

    default_store().set("t_thresh", 150)
    df = compile_sql(
        spark,
        "SELECT count(*) AS n FROM events WHERE value > "
        "get_keyed_state('t_thresh', 'float', 0)",
        catalog,
    )
    n_state = df.collect()[0]["n"]
    n_direct = compile_sql(
        spark, "SELECT count(*) AS n FROM events WHERE value > 150", catalog
    ).collect()[0]["n"]
    assert n_state == n_direct
    default_store().set("t_thresh", 0)
    assert (
        compile_sql(
            spark,
            "SELECT count(*) AS n FROM events WHERE value > "
            "get_keyed_state('t_thresh', 'float', 0)",
            catalog,
        ).collect()[0]["n"]
        == 1000
    )
    default_store().delete("t_thresh")


def test_streaming_state_window_matches_batch(spark, catalog):
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ekuiper_spark.streaming.stateful import state_window_stream

    sdf = (
        catalog.load(spark, "events", streaming=True)
        .withColumn("bg", F.col("event_type") == "signup")
        .withColumn("em", F.col("event_type") == "purchase")
    )
    out = state_window_stream(sdf, "bg", "em", "user_id")
    name = "t_sws_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = sorted((r["part"], r["n"], r["w_open"]) for r in spark.table(name).collect())
    batch = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n, min(ts) AS w_open FROM events GROUP BY "
        "STATEWINDOW(event_type = 'signup', event_type = 'purchase', user_id)",
        catalog,
        order_cols=["ts", "event_id"],
    )
    bt = sorted((r["user_id"], r["n"], r["w_open"]) for r in batch.collect())
    assert stream == bt


def test_streaming_count_window_cross_batch_state(spark, catalog, tmp_path):
    """The open-window remainder must carry across micro-batches: 1000
    events split into two 500-row files, COUNTWINDOW(300) -> batch 1 emits
    1 window (200 carried), batch 2 emits 2 more (100 dropped as the
    trailing partial)."""
    import os
    import time
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ekuiper_spark.streaming.stateful import count_window_stream

    ev = catalog.load(spark, "events").orderBy("ts", "event_id")
    d = str(tmp_path / "split")
    ev.limit(500).coalesce(1).write.parquet(os.path.join(d, "p1"))
    first_ids = {r["event_id"] for r in ev.limit(500).select("event_id").collect()}
    ev.filter(~F.col("event_id").isin(list(first_ids))).coalesce(1).write.parquet(
        os.path.join(d, "p2")
    )
    # flatten into one dir with ordered mtimes
    import glob
    import shutil

    sdir = str(tmp_path / "stream")
    os.makedirs(sdir)
    now = time.time()
    for i, sub in enumerate(["p1", "p2"]):
        src = glob.glob(os.path.join(d, sub, "*.parquet"))[0]
        dst = os.path.join(sdir, f"{sub}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now - 60 + i * 30, now - 60 + i * 30))
    sdf = (
        spark.readStream.schema(catalog.load(spark, "events").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    out = count_window_stream(sdf, 300)
    name = "t_cb_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = spark.table(name).orderBy("wid").collect()
    assert [r["wid"] for r in stream] == [0, 1, 2]
    batch = compile_sql(
        spark,
        "SELECT count(*) AS n, round(sum(value), 4) AS sum_v, min(ts) AS first_ts "
        "FROM events GROUP BY COUNTWINDOW(300)",
        catalog,
        order_cols=["ts", "event_id"],
    ).orderBy("first_ts").collect()
    assert len(batch) == 3
    for s, b in zip(stream, batch):
        assert s["n"] == b["n"] == 300
        assert abs(round(s["sum_v"], 4) - b["sum_v"]) < 1e-6
        assert s["first_ts"] == b["first_ts"]


def test_rule_chaining_via_memory(spark, catalog):
    """The reference composes rules by chaining memory sink -> memory
    source topics (internal/io/memory/).  Here rule 1 writes a memory
    table, which registers as rule 2's source."""
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="chain1",
            sql="SELECT event_id, user_id, value FROM events WHERE value > 100",
            actions=[{"memory": {"table": "chain_topic"}}],
            options={"output_mode": "append"},
        )
    )
    q = rt.start_rule("chain1", available_now=True)
    q.awaitTermination()
    # downstream rule consumes the memory topic as its source
    catalog.register_df("chain_topic", spark.table("chain_topic"))
    df = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n FROM chain_topic GROUP BY user_id HAVING count(*) > 3",
        catalog,
    )
    rows = df.collect()
    direct = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n FROM events WHERE value > 100 "
        "GROUP BY user_id HAVING count(*) > 3",
        catalog,
    ).collect()
    assert sorted((r["user_id"], r["n"]) for r in rows) == sorted(
        (r["user_id"], r["n"]) for r in direct
    )


def test_rule_persistence_roundtrip(spark, catalog, tmp_path):
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    rt.create_rule(Rule(id="p1", sql="SELECT event_id FROM events", actions=[{"memory": {}}]))
    path = str(tmp_path / "rules.json")
    rt.save(path)
    rt2 = RuleRuntime(spark, catalog)
    rt2.load(path)
    assert rt2.rules["p1"].sql == "SELECT event_id FROM events"


def test_partial_aggregation_in_plan(spark, catalog):
    # the reference needs an explicit incremental-agg rewrite
    # (planner.go:1022-1104); Spark does partial (map-side) + final
    # aggregation natively — assert both HashAggregate phases are present
    df = compile_sql(
        spark,
        "SELECT event_type, count(*) AS n, sum(value) AS s FROM events GROUP BY event_type",
        catalog,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("meta('file_name')", "events.parquet"),
        ("CASE WHEN 1 = 1 THEN meta('file_name') ELSE 'other' END", "events.parquet"),
        ("meta('file_name') IN ('events.parquet')", True),
    ],
    ids=["plain", "case_when", "in_list"],
)
def test_meta_function(spark, catalog, expr, expected):
    # meta() anywhere in the expression tree loads the source metadata
    df = compile_sql(
        spark, f"SELECT event_id, {expr} AS src FROM events LIMIT 3", catalog
    )
    rows = df.collect()
    assert rows and all(r["src"] == expected for r in rows)


def test_streaming_lag_matches_batch(spark, catalog):
    import uuid as _uuid

    from ekuiper_spark.streaming.stateful import lag_stream

    sdf = catalog.load(spark, "events", streaming=True)
    out = lag_stream(sdf, "user_id", "value")
    name = "t_lag_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = {(r["part"], r["event_id"]): r["prev_value"] for r in spark.table(name).collect()}
    batch = compile_sql(
        spark,
        "SELECT user_id, event_id, lag(value) OVER (PARTITION BY user_id) AS p FROM events",
        catalog,
        order_cols=["ts", "event_id"],
    ).collect()
    for r in batch:
        got = stream[(r["user_id"], r["event_id"])]
        if r["p"] is None:
            assert got is None
        else:
            assert abs(got - r["p"]) < 1e-9


def test_streaming_count_window_matches_batch(spark, catalog):
    from ekuiper_spark.streaming.stateful import count_window_stream

    sdf = catalog.load(spark, "events", streaming=True)
    out = count_window_stream(sdf, 100)
    name = "t_cw_" + uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = spark.table(name).orderBy("wid").collect()
    batch = compile_sql(
        spark,
        "SELECT count(*) AS n, min(ts) AS first_ts FROM events GROUP BY COUNTWINDOW(100)",
        catalog,
        order_cols=["ts", "event_id"],
    ).orderBy("first_ts").collect()
    assert len(stream_rows) == len(batch) == 10
    for s, b in zip(stream_rows, batch):
        assert s["n"] == b["n"] == 100
        assert s["first_ts"] == b["first_ts"]


def test_dialect_streaming_count_window(spark, catalog):
    """COUNTWINDOW through compile_sql(streaming=True) — the rule path
    (window_op.go:520-568): GROUP BY COUNTWINDOW(n) on an unbounded source
    routes to the generic stateful operator and matches batch."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT count(*) AS n, round(sum(value), 4) AS sum_v, "
        "min(ts) AS first_ts FROM events GROUP BY COUNTWINDOW(100)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted((r["n"], r["sum_v"], r["first_ts"]) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted((r["n"], r["sum_v"], r["first_ts"]) for r in batch.collect())
    assert stream == bt and len(stream) == 10


def test_dialect_streaming_state_window(spark, catalog):
    """STATEWINDOW(begin, emit, partition) through the dialect in streaming
    mode (window_v2_op.go:124-247)."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT user_id, count(*) AS n, min(ts) AS w_open, max(ts) AS w_close "
        "FROM events GROUP BY STATEWINDOW(event_type = 'signup', "
        "event_type = 'purchase', user_id)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted(tuple(r) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted(tuple(r) for r in batch.collect())
    assert stream == bt and len(stream) > 50


def test_dialect_streaming_sliding_window(spark, catalog):
    """SLIDINGWINDOW through the dialect in streaming mode: per-event
    emission with pandas-rolling aggregation (window_op.go:593-619)."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = "SELECT event_id, count(*) AS n_1h FROM events GROUP BY SLIDINGWINDOW(hh, 1)"
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted((r["event_id"], r["n_1h"]) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted((r["event_id"], r["n_1h"]) for r in batch.collect())
    assert stream == bt and len(stream) == 1000


def test_dialect_streaming_sliding_trigger(spark, catalog):
    """SLIDINGWINDOW ... OVER (WHEN cond) streaming: frames span all rows,
    only trigger-true rows emit (window_op.go:757-784)."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT event_id, count(*) AS n_1h FROM events "
        "GROUP BY SLIDINGWINDOW(hh, 1) OVER (WHEN event_type = 'error')"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted((r["event_id"], r["n_1h"]) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted((r["event_id"], r["n_1h"]) for r in batch.collect())
    assert stream == bt and 0 < len(stream) < 1000


def test_dialect_streaming_keyed_sliding(spark, catalog):
    """Sliding with GROUP BY dims sub-groups each trigger's frame CONTENT
    (reference window-then-aggregate order, TestWindowRule4): one row per
    dim value per trigger, raw columns = the subgroup's first row.  The
    streaming state is global by construction (every trigger needs the
    whole frame); batch and streaming agree value-for-value."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT event_id, user_id, count(*) AS n_6h FROM events "
        "GROUP BY user_id, SLIDINGWINDOW(hh, 6)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted((r["event_id"], r["user_id"], r["n_6h"]) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted((r["event_id"], r["user_id"], r["n_6h"]) for r in batch.collect())
    assert stream == bt
    # one row per user in each trigger's frame: strictly more rows than
    # triggers, and every trigger contributes at least one row
    assert len(stream) > 1000


def test_checkpoint_recovery_exactly_once(spark, catalog, tmp_path):
    """Restart-from-checkpoint (the reference's QoS/checkpoint replay,
    internal/topo/topotest/checkpoint_test.go analog): a file-sink rule
    processes batch 1, stops, new data arrives, and the restarted query —
    same checkpointLocation — must process ONLY the new file: every source
    row exactly once in the sink, none duplicated, none lost."""
    import os

    from ekuiper_spark.catalog import StreamDef
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    ev = catalog.load(spark, "events").orderBy("ts", "event_id").limit(400)
    ev.limit(200).coalesce(1).write.parquet(str(tmp_path / "p1"))
    first = {r["event_id"] for r in ev.limit(200).select("event_id").collect()}
    from pyspark.sql import functions as F

    ev.filter(~F.col("event_id").isin(list(first))).coalesce(1).write.parquet(
        str(tmp_path / "p2")
    )
    import glob
    import shutil

    shutil.copy(glob.glob(str(tmp_path / "p1" / "*.parquet"))[0], f"{src}/p1.parquet")

    cat2 = Catalog()
    cat2.register(StreamDef(name="ckstream", format="parquet", path=src, kind="stream"))
    # schema probe needs at least one file present
    rt = RuleRuntime(spark, cat2)
    rt.create_rule(
        Rule(
            id="ck1",
            sql="SELECT event_id, value FROM ckstream WHERE value >= 0",
            actions=[{"file": {"path": out, "format": "parquet", "checkpoint": ckpt}}],
            options={"output_mode": "append"},
        )
    )
    q = rt.start_rule("ck1", available_now=True)
    q.awaitTermination()
    rt.stop_rule("ck1")
    n1 = spark.read.parquet(out).count()
    assert n1 == spark.read.parquet(f"{src}/p1.parquet").filter("value >= 0").count()

    # new file arrives while the rule is down
    shutil.copy(glob.glob(str(tmp_path / "p2" / "*.parquet"))[0], f"{src}/p2.parquet")
    q2 = rt.start_rule("ck1", available_now=True)
    q2.awaitTermination()
    rt.stop_rule("ck1")

    got = sorted(r["event_id"] for r in spark.read.parquet(out).select("event_id").collect())
    want = sorted(
        r["event_id"]
        for r in spark.read.parquet(src).filter("value >= 0").select("event_id").collect()
    )
    assert got == want  # exactly once: no dupes (restart did not re-read p1), no loss


def test_reference_graph_rule_replay(spark, catalog):
    """Replay the first ruleGraph JSON from the reference's planner test
    verbatim (internal/topo/planner/planner_graph_test.go:32-120: mqtt
    source -> filter -> function -> pick -> sink, with a second
    function->sink branch off the source) and assert the emitted rows."""
    import math

    graph = {
        "nodes": {
            "abc": {"type": "source", "nodeType": "mqtt",
                    "props": {"datasource": "demo"}},
            "myfilter": {"type": "operator", "nodeType": "filter",
                         "props": {"expr": "temperature > 20"}},
            "logfunc": {"type": "operator", "nodeType": "function",
                        "props": {"expr": "log(temperature) as log_temperature"}},
            "sinfunc": {"type": "operator", "nodeType": "function",
                        "props": {"expr": "sin(temperature) as sin_temperature"}},
            "pick": {"type": "operator", "nodeType": "pick",
                     "props": {"fields": ["log_temperature", "humidity"]}},
            "mqttpv": {"type": "sink", "nodeType": "mqtt",
                       "props": {"server": "tcp://syno.home:1883",
                                 "topic": "result", "sendSingle": True}},
            "mqtt2": {"type": "sink", "nodeType": "mqtt",
                      "props": {"server": "tcp://syno.home:1883",
                                "topic": "result2", "sendSingle": True}},
        },
        "topo": {
            "sources": ["abc"],
            "edges": {
                "abc": ["myfilter", "sinfunc"],
                "myfilter": ["logfunc"],
                "logfunc": ["pick"],
                "pick": ["mqttpv"],
                "sinfunc": ["mqtt2"],
            },
        },
    }
    demo = spark.createDataFrame(
        [(10.0, 55), (100.0, 60), (1000.0, 65)], ["temperature", "humidity"]
    )
    cat = Catalog()
    cat.register_df("demo", demo)
    from ekuiper_spark.plans.graph import GraphRulePlanner

    out = GraphRulePlanner(spark, cat).plan(graph)
    assert set(out) == {"mqttpv", "mqtt2"}
    # branch 1: filter >20 -> log10 -> pick(log_temperature, humidity)
    b1 = sorted(tuple(r) for r in out["mqttpv"].collect())
    assert out["mqttpv"].columns == ["log_temperature", "humidity"]
    assert b1 == [(2.0, 60), (3.0, 65)]
    # branch 2: sin over ALL rows (no filter on this branch)
    b2 = {round(r["sin_temperature"], 6) for r in out["mqtt2"].select("sin_temperature").collect()}
    assert b2 == {round(math.sin(t), 6) for t in (10.0, 100.0, 1000.0)}


def test_dialect_streaming_count_window_subgrouped(spark, catalog):
    """GROUP BY dim, COUNTWINDOW(n) in streaming: the window batches n
    events globally, then aggregates per dim WITHIN each window (the
    reference's window-then-aggregate order) — matches the batch path."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v "
        "FROM events GROUP BY event_type, COUNTWINDOW(200)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = sorted(tuple(r) for r in out.collect())
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = sorted(tuple(r) for r in batch.collect())
    assert stream == bt and len(stream) > 5


def test_dialect_streaming_sliding_delay(spark, catalog):
    """SLIDINGWINDOW(unit, length, delay) in streaming: emission fires
    once event time passes t+delay; frame = [t-length, t+delay]
    (window_op.go sliding delay, event-time analog).  Rows whose trigger
    never passes (the trailing delay horizon) stay pending — parity with
    batch holds for all triggered rows."""
    from pyspark.sql import functions as F

    from ekuiper_spark.streaming.runtime import run_rule_available_now

    # event_time() identifies the trigger (raw event_id is now the FIRST
    # frame row's id per the reference project-over-grouped rule)
    sql = (
        "SELECT event_id, event_time() AS et, count(*) AS n_w, "
        "round(sum(value), 4) AS sum_w "
        "FROM events GROUP BY SLIDINGWINDOW(mi, 60, 10)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    stream = {r["et"]: (r["event_id"], r["n_w"], r["sum_w"]) for r in out.collect()}
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    ev = catalog.load(spark, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = max_ts - __import__("datetime").timedelta(minutes=10)
    triggered = {
        r["ts"] for r in ev.filter(F.col("ts") <= horizon).select("ts").collect()
    }
    bt = {r["et"]: (r["event_id"], r["n_w"], r["sum_w"]) for r in batch.collect()}
    assert set(stream) == triggered
    mismatches = [k for k in stream if stream[k] != bt[k]]
    assert not mismatches, mismatches[:5]


def test_sliding_delay_cross_batch(spark, catalog, tmp_path):
    """Delayed sliding across micro-batches: rows near the end of batch 1
    trigger only when batch 2's events pass their t+delay, and their
    frames must include batch-2 rows that landed inside [t, t+delay]."""
    import glob
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    ev = catalog.load(spark, "events").orderBy("ts", "event_id")
    d = tmp_path
    ev.limit(500).coalesce(1).write.parquet(str(d / "p1"))
    first = {r["event_id"] for r in ev.limit(500).select("event_id").collect()}
    ev.filter(~F.col("event_id").isin(list(first))).coalesce(1).write.parquet(str(d / "p2"))
    sdir = str(d / "stream")
    os.makedirs(sdir)
    now = _time.time()
    for i, sub in enumerate(["p1", "p2"]):
        dst = os.path.join(sdir, f"{sub}.parquet")
        shutil.copy(glob.glob(str(d / sub / "*.parquet"))[0], dst)
        os.utime(dst, (now - 60 + i * 30,) * 2)
    from ekuiper_spark.catalog import Catalog, StreamDef

    cat2 = Catalog()
    cat2.register(StreamDef(name="events", format="parquet", path=sdir, kind="stream"))
    cat2._dfs = {}
    import uuid

    from ekuiper_spark.translator import compile_sql as cs

    sdf = (
        spark.readStream.schema(spark.read.parquet(sdir).schema)
        .option("maxFilesPerTrigger", 1).parquet(sdir)
    )
    cat2.register_df("events", sdf)
    _sql = (
        "SELECT event_id, event_time() AS et, count(*) AS n_w "
        "FROM events GROUP BY SLIDINGWINDOW(mi, 60, 10)"
    )
    out = cs(spark, _sql, cat2, streaming=True, order_cols=["ts", "event_id"])
    name = "sd_" + uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = {r["et"]: (r["event_id"], r["n_w"]) for r in spark.table(name).collect()}
    batch = compile_sql(spark, _sql, catalog, order_cols=["ts", "event_id"])
    bt = {r["et"]: (r["event_id"], r["n_w"]) for r in batch.collect()}
    assert len(stream) > 900  # both batches' triggered rows emitted
    mismatches = [k for k in stream if stream[k] != bt[k]]
    assert not mismatches, mismatches[:5]


def test_sliding_late_arrival_cross_batch(spark, catalog, tmp_path):
    """A micro-batch whose rows sort BEFORE the carried state tail (normal
    late arrival) must not kill the no-delay sliding query: the combined
    buffer is re-sorted (stable argsort) before rolling.  Early rows'
    frames only span early rows, so batch parity still holds."""
    import glob
    import os
    import shutil
    import time as _time
    import uuid

    from pyspark.sql import functions as F

    from ekuiper_spark.catalog import Catalog, StreamDef
    from ekuiper_spark.translator import compile_sql as cs

    ev = catalog.load(spark, "events").orderBy("ts", "event_id")
    d = tmp_path
    # batch 1 = the LATER half, batch 2 = the EARLIER half (late arrival)
    late = {r["event_id"] for r in ev.limit(500).select("event_id").collect()}
    ev.filter(~F.col("event_id").isin(list(late))).coalesce(1).write.parquet(str(d / "p1"))
    ev.limit(500).coalesce(1).write.parquet(str(d / "p2"))
    sdir = str(d / "stream")
    os.makedirs(sdir)
    now = _time.time()
    for i, sub in enumerate(["p1", "p2"]):
        dst = os.path.join(sdir, f"{sub}.parquet")
        shutil.copy(glob.glob(str(d / sub / "*.parquet"))[0], dst)
        os.utime(dst, (now - 60 + i * 30,) * 2)
    cat2 = Catalog()
    cat2.register(StreamDef(name="events", format="parquet", path=sdir, kind="stream"))
    sdf = (
        spark.readStream.schema(spark.read.parquet(sdir).schema)
        .option("maxFilesPerTrigger", 1).parquet(sdir)
    )
    cat2.register_df("events", sdf)
    sql = ("SELECT event_id, event_time() AS et, count(*) AS n "
           "FROM events GROUP BY SLIDINGWINDOW(hh, 1)")
    out = cs(spark, sql, cat2, streaming=True, order_cols=["ts", "event_id"])
    name = "sl_" + uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = {r["et"]: (r["event_id"], r["n"]) for r in spark.table(name).collect()}
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    bt = {r["et"]: (r["event_id"], r["n"]) for r in batch.collect()}
    assert len(stream) == 1000
    mismatches = [k for k in stream if stream[k] != bt[k]]
    assert not mismatches, mismatches[:5]


def test_streaming_collect_timestamp_column(spark, catalog):
    """collect(ts) over a streaming COUNTWINDOW: buffered int64-micros
    must convert back to timestamps on emit (ArrayType(TimestampType))."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    sql = (
        "SELECT count(*) AS n, collect(ts) AS tss "
        "FROM events GROUP BY COUNTWINDOW(250)"
    )
    out = run_rule_available_now(
        spark, catalog, sql, output_mode="append", order_cols=["ts", "event_id"]
    )
    rows = out.collect()
    batch = compile_sql(spark, sql, catalog, order_cols=["ts", "event_id"])
    brows = batch.collect()
    assert len(rows) == len(brows) == 4
    import datetime

    for r in rows:
        assert all(isinstance(t, datetime.datetime) for t in r["tss"])
    s_sets = sorted(tuple(sorted(r["tss"])) for r in rows)
    b_sets = sorted(tuple(sorted(r["tss"])) for r in brows)
    assert s_sets == b_sets


def test_sliding_left_inclusive_boundary(spark):
    """The sliding frame is [t-length, t] — a row exactly `length` older
    than the trigger IS in the frame.  The normal scan keeps ts >= left
    (handleInputs, window_op.go:641-647); the strict After(windowStart)
    at window_op.go:606 is the sendTwice-mode path only.
    TestSlidingWindowInterval12's golden output pins the inclusive
    boundary (a row exactly 1s old appears in the trigger's frame)."""
    import datetime

    from ekuiper_spark.catalog import Catalog

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (2, base + datetime.timedelta(hours=1)),   # exactly 1h later
        (3, base + datetime.timedelta(hours=1, seconds=30)),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    cat = Catalog()
    cat.register_df("bnd", df)
    out = compile_sql(
        spark,
        "SELECT event_id, count(*) AS n FROM bnd GROUP BY SLIDINGWINDOW(hh, 1)",
        cat, order_cols=["ts", "event_id"],
    )
    got = sorted((r["event_id"], r["n"]) for r in out.collect())
    # row 2's frame [t-1h, t] INCLUDES row 1 (exactly 1h old); row 3's
    # frame includes row 2 but not row 1 (1h + 30s old).  event_id is the
    # FIRST frame row's id (reference project-over-grouped).
    assert got == [(1, 1), (1, 2), (2, 2)]


def test_graph_aggfunc_and_watermark_nodes(spark, catalog):
    """planner_graph.go "aggfunc" (function with IsAgg over the windowed
    collection) and "watermark" (no-op on bounded replays) nodes."""
    from ekuiper_spark.plans.graph import GraphRulePlanner

    g = GraphRulePlanner(spark, catalog)
    out = g.plan(
        {
            "nodes": {
                "src": {"type": "source", "props": {"datasource": "events"}},
                "wm": {"type": "operator", "nodeType": "watermark",
                       "props": {"lateTolerance": "5 seconds"}},
                "win": {"type": "operator", "nodeType": "window",
                        "props": {"windowType": "tumblingwindow",
                                  "unit": "hh", "size": 1}},
                "agg": {"type": "operator", "nodeType": "aggfunc",
                        "props": {"expr": "round(avg(value), 4) AS avg_v"}},
            },
            "topo": {"sources": ["src"],
                     "edges": {"src": ["wm"], "wm": ["win"], "win": ["agg"]}},
        }
    )
    rows = sorted(r["avg_v"] for r in out["agg"].collect())
    sql_rows = sorted(
        r["avg_v"]
        for r in compile_sql(
            spark,
            "SELECT round(avg(value), 4) AS avg_v FROM events "
            "GROUP BY TUMBLINGWINDOW(hh, 1)",
            catalog,
        ).collect()
    )
    assert rows == sql_rows and len(rows) > 100


def test_memory_source_topic_wildcards(spark, catalog):
    """Memory source with MQTT-style wildcards (pubsub manager.go regex
    subscriptions): `sensors/#` unions every matching registered topic;
    rule chaining reads a memory-sink table through the same path."""
    import uuid as _uuid

    from ekuiper_spark.catalog import Catalog, StreamDef

    cat = Catalog()
    a = spark.createDataFrame([(1, 10.0)], "id long, v double")
    b = spark.createDataFrame([(2, 20.0), (3, 30.0)], "id long, v double")
    cat.register_df("sensors/roomA", a)
    cat.register_df("sensors/roomB", b)
    cat.register_df("other/roomC", spark.createDataFrame([(9, 0.0)], "id long, v double"))
    cat.register(
        StreamDef(name="allsensors", path="sensors/#", kind="scan",
                  options={"type": "memory"})
    )
    df = compile_sql(spark, "SELECT id, v FROM allsensors WHERE v > 5", cat)
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]

    # chaining: rule A's memory sink table is visible to a memory source
    table = "chain_" + _uuid.uuid4().hex[:6]
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(id="chainA", sql="SELECT event_id, value FROM events WHERE value > 190",
             actions=[{"memory": {"table": table}}])
    )
    q = rt.start_rule("chainA", available_now=True)
    q.awaitTermination()
    cat.register(
        StreamDef(name="chained", path=table, kind="scan", options={"type": "memory"})
    )
    n = compile_sql(spark, "SELECT count(*) AS n FROM chained", cat).first()["n"]
    expected = compile_sql(
        spark, "SELECT count(*) AS n FROM events WHERE value > 190", catalog
    ).first()["n"]
    assert n == expected > 0
    rt.stop_rule("chainA")


def test_sliding_delay_min_max_matches_batch(spark, catalog):
    """Delayed sliding windows now support min/max (sparse-table range
    queries over the sorted buffer) — streaming equals the batch range
    frame for emitted rows."""
    import uuid as _uuid

    from ekuiper_spark.translator import compile_sql as cs

    sdf = catalog.load(spark, "events", streaming=True)
    cat2 = Catalog()
    cat2.register_df("events", sdf)
    _sql = ("SELECT event_time() AS et, min(value) AS mn, max(value) AS mx "
            "FROM events GROUP BY SLIDINGWINDOW(mi, 60, 10)")
    out = cs(spark, _sql, cat2, streaming=True, order_cols=["ts", "event_id"])
    name = "sdm_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stream = {r["et"]: (r["mn"], r["mx"]) for r in spark.table(name).collect()}
    batch = compile_sql(spark, _sql, catalog, order_cols=["ts", "event_id"])
    bt = {r["et"]: (r["mn"], r["mx"]) for r in batch.collect()}
    assert len(stream) > 900
    mismatches = [k for k in stream if stream[k] != bt[k]]
    assert not mismatches, mismatches[:5]


def test_sliding_delay_min_max_all_null_frame(spark, tmp_path):
    """min/max over an all-null frame emits NULL, not INT64_MIN (the
    NaN->int64 cast is undefined; the result must stay null for long and
    timestamp outputs alike)."""
    import datetime as dt
    import uuid as _uuid

    from ekuiper_spark.catalog import Catalog
    from ekuiper_spark.translator import compile_sql as cs

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=30 * i), None) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, amount long")
    p = str(tmp_path / "nulls")
    df.coalesce(1).write.parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    cat2 = Catalog()
    cat2.register_df("events", sdf)
    out = cs(
        spark,
        "SELECT event_id, min(amount) AS mn, max(amount) AS mx FROM events "
        "GROUP BY SLIDINGWINDOW(ss, 60, 30)",
        cat2, streaming=True, order_cols=["ts", "event_id"],
    )
    name = "sdn_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table(name).collect()
    assert len(got) > 0
    for r in got:
        assert r["mn"] is None and r["mx"] is None, r


def test_status_reference_metric_keys(spark, catalog):
    """Rule status carries the reference's metric key names
    (source_<name>_0_records_in_total / sink_<type>_0_0_records_out_total,
    the keys the topotest assertions and dashboards read)."""
    from ekuiper_spark.streaming.runtime import Rule, RuleRuntime

    rt = RuleRuntime(spark, catalog)
    rt.create_rule(
        Rule(
            id="met1",
            sql="SELECT event_id FROM events WHERE value > 150",
            actions=[{"memory": {"table": "met1_out"}}],
            options={"output_mode": "append"},
        )
    )
    q = rt.start_rule("met1", available_now=True)
    q.awaitTermination()
    st = rt.status("met1")
    assert st["source_events_0_records_in_total"] == 1000
    assert st["sink_memory_0_0_records_out_total"] > 0
    rt.stop_rule("met1")

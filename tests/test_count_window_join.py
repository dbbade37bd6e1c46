"""COUNT window multi-stream joins (planner.go:734-735 allows "a time
window or count window"; window_op.go count windows + join_operator.go
per-window join; fvt/rule_test.go TestJoinWithLookup).

Batch results pin against a DuckDB oracle built the same way the engine
forms windows: tag the unioned streams, number by (arrival, tag), window
ids of n rows, join within complete windows.  Streaming (availableNow
over file sources is not possible for rate-backed simulators, so the
continuous run is polled) must equal batch on the same data.
"""

from __future__ import annotations

import json
import time

import duckdb
import pytest

from ekuiper_spark.catalog import Catalog, StreamDef
from ekuiper_spark.translator import compile_sql


def _events_cat(spark, sf_dir="/root/testdata/sf0.001"):
    """Two stream defs carved out of the events table (even/odd ids) with
    injected batch frames — the corpus-replay pattern (def kind=stream,
    batch df injected)."""
    cat = Catalog.from_dir(sf_dir)
    base = cat.load(spark, "events", streaming=False)
    a = base.filter("event_id % 2 = 0").select("event_id", "event_type", "value", "ts")
    b = base.filter("event_id % 2 = 1").select("event_id", "event_type", "value", "ts")
    cat.register(StreamDef(name="s_a", format="json", path=None, schema=None, kind="stream"))
    cat.register(StreamDef(name="s_b", format="json", path=None, schema=None, kind="stream"))
    cat.register_df("s_a", a)
    cat.register_df("s_b", b)
    return cat


def _duck(sf_dir="/root/testdata/sf0.001"):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    return con


ORACLE = """
WITH u AS (
  SELECT 'S0' AS src, event_id, event_type, value, epoch_us(ts) AS us
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT 'S1' AS src, event_id, event_type, value, epoch_us(ts) AS us
  FROM events WHERE event_id % 2 = 1
), w AS (
  SELECT *, (row_number() OVER (ORDER BY us, src) - 1) // {n} AS wid,
         count(*) OVER () AS total
  FROM u
), c AS (SELECT * FROM w WHERE wid < total // {n})
SELECT {select}
FROM c a JOIN c b
  ON a.src = 'S0' AND b.src = 'S1' AND a.wid = b.wid AND {on}
{tail}
"""


def _batch_rows(spark, sql, cat, order):
    df = compile_sql(spark, sql, cat)
    return sorted(tuple(r) for r in df.select(*order).collect())


def test_count_join_content_matches_duckdb(spark):
    cat = _events_cat(spark)
    got = _batch_rows(
        spark,
        "SELECT s_a.event_id AS a_id, s_b.event_id AS b_id FROM s_a "
        "INNER JOIN s_b ON s_a.event_type = s_b.event_type "
        "GROUP BY countwindow(20)",
        cat,
        ["a_id", "b_id"],
    )
    con = _duck()
    want = sorted(
        tuple(r) for r in con.execute(ORACLE.format(
            n=20,
            select="a.event_id AS a_id, b.event_id AS b_id",
            on="a.event_type = b.event_type",
            tail="",
        )).fetchall()
    )
    assert got == want and len(got) > 0


def test_count_join_aggregate_matches_duckdb(spark):
    cat = _events_cat(spark)
    df = compile_sql(
        spark,
        "SELECT count(*) AS n, sum(s_b.value) AS sv FROM s_a "
        "INNER JOIN s_b ON s_a.event_type = s_b.event_type "
        "GROUP BY countwindow(50)",
        cat,
    )
    got = sorted((r["n"], round(r["sv"], 4)) for r in df.collect())
    con = _duck()
    want = sorted(
        (r[0], round(r[1], 4)) for r in con.execute(ORACLE.format(
            n=50,
            select="count(*) AS n, sum(b.value) AS sv",
            on="a.event_type = b.event_type",
            tail="GROUP BY a.wid",
        )).fetchall()
    )
    assert got == want and len(got) > 0


def test_count_join_left_and_cross_kinds(spark):
    cat = _events_cat(spark)
    # LEFT join preserves unmatched left rows within the window
    left = compile_sql(
        spark,
        "SELECT s_a.event_id AS a_id, s_b.event_id AS b_id FROM s_a "
        "LEFT JOIN s_b ON s_a.event_type = s_b.event_type "
        "GROUP BY countwindow(20)",
        cat,
    )
    lrows = [tuple(r) for r in left.collect()]
    inner = compile_sql(
        spark,
        "SELECT s_a.event_id AS a_id, s_b.event_id AS b_id FROM s_a "
        "INNER JOIN s_b ON s_a.event_type = s_b.event_type "
        "GROUP BY countwindow(20)",
        cat,
    )
    irows = [tuple(r) for r in inner.collect()]
    assert set(irows) <= set(lrows)
    assert any(b is None for _a, b in lrows)  # preserved left rows
    # CROSS join: every same-window pair
    cross = compile_sql(
        spark,
        "SELECT s_a.event_id AS a_id, s_b.event_id AS b_id FROM s_a "
        "CROSS JOIN s_b GROUP BY countwindow(10)",
        cat,
    )
    con = _duck()
    want = con.execute(ORACLE.format(
        n=10, select="count(*) AS n", on="true", tail="",
    )).fetchone()[0]
    assert cross.count() == want


def test_count_join_non_equi(spark):
    """r10: non-equi ON over a COUNT window join — candidate pairs form
    from the equi subset (cross when none) and the residual condition
    filters in-op (pdeval lane), preserved sides null-extending."""
    cat = _events_cat(spark)
    out = compile_sql(
        spark,
        "SELECT s_a.event_id AS ea, s_b.event_id AS eb FROM s_a INNER JOIN s_b "
        "ON s_a.value > s_b.value GROUP BY countwindow(10)",
        cat,
        order_cols=["ts", "event_id"],
    )
    rows = out.collect()
    assert len(rows) > 0
    # every emitted pair satisfies the condition (checked via a self-join
    # of the source values)
    vals = {
        r["event_id"]: r["value"]
        for r in cat.load(spark, "events", streaming=False)
        .select("event_id", "value").collect()
    }
    assert all(vals[r["ea"]] > vals[r["eb"]] for r in rows)


def test_count_join_streaming_equals_batch(spark, tmp_path):
    """The fvt flow end-to-end: streaming count join over two bounded
    simulators equals the batch translation of the same statement."""
    import warnings

    from ekuiper_spark.sources import mock

    data_a = [{"k": f"k{i % 3}", "v": float(i)} for i in range(6)]
    data_b = [{"k": f"k{i % 3}", "w": float(10 * i)} for i in range(6)]
    mock.register_simulator_conf("cja", {"data": data_a, "interval": "1ms", "loop": False})
    mock.register_simulator_conf("cjb", {"data": data_b, "interval": "1ms", "loop": False})
    cat = Catalog()
    cat.register(StreamDef(name="cja", format="json", path=None, schema=None,
                           options={"type": "simulator", "conf_key": "cja"}))
    cat.register(StreamDef(name="cjb", format="json", path=None, schema=None,
                           options={"type": "simulator", "conf_key": "cjb"}))
    sql = ("SELECT cja.k AS k, cja.v AS v, cjb.w AS w FROM cja "
           "INNER JOIN cjb ON cja.k = cjb.k GROUP BY countwindow(12)")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        sdf = compile_sql(spark, sql, cat, streaming=True)
        q = (
            sdf.writeStream.format("memory").queryName("cjoin_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append").start()
        )
        got = []
        deadline = time.time() + 60
        while time.time() < deadline:
            got = [tuple(r) for r in spark.table("cjoin_out").collect()]
            if len(got) >= 12:
                break
            time.sleep(0.3)
        q.stop()
        bdf = compile_sql(spark, sql, cat)
        want = [tuple(r) for r in bdf.collect()]
    assert sorted(got) == sorted(want) and len(want) > 0


def test_count_join_where_and_having(spark):
    """Round 8: WHERE filters joined pairs (FilterPlan above JoinPlan);
    HAVING gates windows — content mode attaches frame aggregates,
    aggregate mode filters trigger rows; streaming == batch."""
    import warnings

    from ekuiper_spark.sources import mock

    data_a = [{"k": f"k{i % 3}", "v": float(i)} for i in range(8)]
    data_b = [{"k": f"k{i % 3}", "w": float(10 * i)} for i in range(8)]
    mock.register_simulator_conf("wha", {"data": data_a, "interval": "1ms", "loop": False})
    mock.register_simulator_conf("whb", {"data": data_b, "interval": "1ms", "loop": False})
    cat = Catalog()
    cat.register(StreamDef(name="wha", format="json", path=None, schema=None,
                           options={"type": "simulator", "conf_key": "wha"}))
    cat.register(StreamDef(name="whb", format="json", path=None, schema=None,
                           options={"type": "simulator", "conf_key": "whb"}))
    cases = [
        # WHERE over joined pairs, content mode
        ("SELECT wha.k AS k, whb.w AS w FROM wha INNER JOIN whb "
         "ON wha.k = whb.k WHERE whb.w > 20 GROUP BY countwindow(16)",
         ["k", "w"]),
        # HAVING over window aggregates, aggregate mode
        ("SELECT count(*) AS nn FROM wha INNER JOIN whb ON wha.k = whb.k "
         "GROUP BY countwindow(16) HAVING count(*) > 1",
         ["nn"]),
        # HAVING gating CONTENT windows whole
        ("SELECT wha.k AS k, wha.v AS v FROM wha INNER JOIN whb "
         "ON wha.k = whb.k GROUP BY countwindow(16) HAVING count(*) > 1",
         ["k", "v"]),
    ]
    for sql, cols in cases:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            bdf = compile_sql(spark, sql, cat)
            want = sorted(tuple(r[c] for c in cols) for r in bdf.collect())
            sdf = compile_sql(spark, sql, cat, streaming=True)
            name = f"cjwh_{abs(hash(sql)) % 10**8}"
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode("append").start()
            )
            got = []
            deadline = time.time() + 60
            while time.time() < deadline:
                got = sorted(tuple(r[c] for c in cols)
                             for r in spark.table(name).collect())
                if len(got) >= len(want):
                    break
                time.sleep(0.3)
            q.stop()
        assert got == want and len(want) > 0, (sql, got, want)


def test_count_window_join_where_aggregated(spark, tmp_path):
    """WHERE over an AGGREGATED count-window join: windows fill from ALL
    rows (count membership must not shift), the filter prunes joined
    PAIRS via per-side keep flags inside the op; streaming == batch."""
    import os

    from ekuiper_spark.streaming.runtime import run_rule_available_now

    a_rows = [(i, 1541152486000 + i * 500, i % 5, float(i)) for i in range(40)]
    b_rows = [(i + 100, 1541152486100 + i * 500, i % 5, float(i) * 2) for i in range(40)]
    base = str(tmp_path / "cwj")
    spark.createDataFrame(a_rows, "aid long, ts long, k long, v double").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(b_rows, "bid long, bts long, bk long, w double").coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("sa", spark.readStream.schema("aid long, ts long, k long, v double").parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.readStream.schema("bid long, bts long, bk long, w double").parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        else:
            c.register_df("sa", spark.read.parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.read.parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        return c

    for sql in [
        "SELECT count(*) AS n, max(v) AS mv FROM sa INNER JOIN sb "
        "ON sa.k = sb.bk WHERE v > 10 GROUP BY COUNTWINDOW(16)",
        "SELECT count(*) AS n FROM sa INNER JOIN sb ON sa.k = sb.bk "
        "WHERE v > 10 AND w < 60 GROUP BY COUNTWINDOW(16)",
        "SELECT count(*) AS n, max(w) AS mw FROM sa INNER JOIN sb "
        "ON sa.k = sb.bk WHERE w > 20 GROUP BY COUNTWINDOW(16)",
    ]:
        b = sorted(tuple(r) for r in compile_sql(spark, sql, cats(False)).collect())
        s = sorted(
            tuple(r) for r in run_rule_available_now(spark, cats(True), sql).collect()
        )
        assert b == s and len(b) > 0, sql

    # r10: mixed-side conjuncts evaluate in-op on the joined chain
    sql = (
        "SELECT count(*) AS n FROM sa INNER JOIN sb ON sa.k = sb.bk "
        "WHERE v > w / 4 GROUP BY COUNTWINDOW(16)"
    )
    b = sorted(tuple(r) for r in compile_sql(spark, sql, cats(False)).collect())
    s = sorted(
        tuple(r) for r in run_rule_available_now(spark, cats(True), sql).collect()
    )
    assert b == s and len(b) > 0, sql


def test_count_window_join_group_by_dims(spark, tmp_path):
    """GROUP BY dims over the joined count window: one row per (window,
    dim value); dims compute natively on the owning side; streaming ==
    batch (both lifted from the former NotImplementedError)."""
    import os

    from ekuiper_spark.streaming.runtime import run_rule_available_now

    a_rows = [(i, 1541152486000 + i * 500, i % 3, float(i)) for i in range(36)]
    b_rows = [(i + 100, 1541152486100 + i * 500, i % 3, float(i) * 2) for i in range(36)]
    base = str(tmp_path / "cwjd")
    spark.createDataFrame(a_rows, "aid long, ts long, k long, v double").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(b_rows, "bid long, bts long, bk long, w double").coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("sa", spark.readStream.schema("aid long, ts long, k long, v double").parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.readStream.schema("bid long, bts long, bk long, w double").parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        else:
            c.register_df("sa", spark.read.parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.read.parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        return c

    for sql in [
        "SELECT k, count(*) AS n, max(w) AS mw FROM sa INNER JOIN sb "
        "ON sa.k = sb.bk GROUP BY COUNTWINDOW(12), k",
        "SELECT k, count(*) AS n FROM sa INNER JOIN sb ON sa.k = sb.bk "
        "WHERE w > 10 GROUP BY COUNTWINDOW(12), k",
        # computed single-side dim
        "SELECT sa.k % 2 AS g, count(*) AS n FROM sa INNER JOIN sb "
        "ON sa.k = sb.bk GROUP BY COUNTWINDOW(12), sa.k % 2",
    ]:
        b = sorted(tuple(r) for r in compile_sql(spark, sql, cats(False)).collect())
        s = sorted(
            tuple(r) for r in run_rule_available_now(spark, cats(True), sql).collect()
        )
        assert b == s and len(b) > 0, sql


def test_count_window_join_lifted_matrix(spark, tmp_path):
    """r10: the COUNT-window join now matches the sliding join's lifted
    surface — mixed-side dims/WHERE (pdeval merged columns), non-equi ON
    residuals with null-extension, HAVING raw-column content gates —
    streaming == batch on every cell."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    base = str(tmp_path / "cwl")
    demo_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252), ("blue", 52, 1541152490062),
    ]
    demo1_rows = [
        (25.5, 65, 1541152486013), (27.5, 59, 1541152486822),
        (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
        (25.5, 62, 1541152489252), (26.2, 66, 1541152490062),
    ]
    spark.createDataFrame(demo_rows, "color string, size long, ts long").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(demo1_rows, "temp double, hum long, ts long").coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("demo", spark.readStream.schema("color string, size long, ts long").parquet(base + "/a"))
            c.register_df("demo1", spark.readStream.schema("temp double, hum long, ts long").parquet(base + "/b"))
        else:
            c.register_df("demo", spark.read.parquet(base + "/a"))
            c.register_df("demo1", spark.read.parquet(base + "/b"))
        c.register(StreamDef(name="demo", kind="stream"))
        c.register(StreamDef(name="demo1", kind="stream"))
        return c

    for sql, cols in [
        (
            # mixed-side dim
            "SELECT size + hum AS sh, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY size + hum, COUNTWINDOW(6)",
            ["sh", "c"],
        ),
        (
            # equi + non-equi residual, aggregated
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts AND hum > size GROUP BY COUNTWINDOW(6)",
            ["c"],
        ),
        (
            # LEFT join with residual: unmatched lefts null-extend
            "SELECT count(*) AS c, count(hum) AS ch FROM demo LEFT JOIN demo1 "
            "ON demo.ts = demo1.ts AND hum > 62 GROUP BY COUNTWINDOW(6)",
            ["c", "ch"],
        ),
        (
            # mixed-side WHERE over an aggregated count join
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts WHERE size + hum > 110 GROUP BY COUNTWINDOW(6)",
            ["c"],
        ),
        (
            # HAVING raw column gates the whole window on its FIRST row
            "SELECT size, hum FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY COUNTWINDOW(6) HAVING size > 48",
            ["size", "hum"],
        ),
    ]:
        b = sorted(
            tuple(r[c] for c in cols)
            for r in compile_sql(spark, sql, cats(False), order_cols=["ts"]).collect()
        )
        s = sorted(
            tuple(r[c] for c in cols)
            for r in run_rule_available_now(
                spark, cats(True), sql, order_cols=["ts"]
            ).collect()
        )
        assert b == s and len(b) > 0, sql


def test_count_window_join_arbitrary_exprs(spark, tmp_path):
    """r11 (sliding-join parity): arbitrary scalar expressions reach
    COUNT-window-join WHERE/ON/dims/aggregate-inputs via the single-side
    precompute fallback (native Catalyst columns buffered through the
    op; only mixed glue stays in-op), and aggregate inputs accept
    EXPRESSIONS, not just plain columns; streaming == batch."""
    from ekuiper_spark.streaming.runtime import run_rule_available_now

    base = str(tmp_path / "cwx")
    demo_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252), ("blue", 52, 1541152490062),
    ]
    demo1_rows = [
        (25.5, 65, 1541152486013), (27.5, 59, 1541152486822),
        (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
        (25.5, 62, 1541152489252), (26.2, 66, 1541152490062),
    ]
    spark.createDataFrame(demo_rows, "color string, size long, ts long").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(demo1_rows, "temp double, hum long, ts long").coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("demo", spark.readStream.schema("color string, size long, ts long").parquet(base + "/a"))
            c.register_df("demo1", spark.readStream.schema("temp double, hum long, ts long").parquet(base + "/b"))
        else:
            c.register_df("demo", spark.read.parquet(base + "/a"))
            c.register_df("demo1", spark.read.parquet(base + "/b"))
        c.register(StreamDef(name="demo", kind="stream"))
        c.register(StreamDef(name="demo1", kind="stream"))
        return c

    for sql, cols in [
        (
            # non-subset scalar in WHERE (upper precomputes on demo)
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts WHERE upper(color) = 'RED' "
            "GROUP BY COUNTWINDOW(6)",
            ["c"],
        ),
        (
            # non-subset scalar dim
            "SELECT lpad(color, 6) AS k, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY COUNTWINDOW(6), lpad(color, 6)",
            ["k", "c"],
        ),
        (
            # EXPRESSION aggregate input (formerly plain-columns only)
            "SELECT sum(size + hum) AS s FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY COUNTWINDOW(6)",
            ["s"],
        ),
        (
            # single-side expression aggregate input
            "SELECT sum(size * 2) AS s2, max(hum - 1) AS mh FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts GROUP BY COUNTWINDOW(6)",
            ["s2", "mh"],
        ),
        (
            # lower() in an ON residual beside the equi key
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts AND lower(color) != 'blue' "
            "GROUP BY COUNTWINDOW(6)",
            ["c"],
        ),
    ]:
        b = sorted(
            tuple(r[c] for c in cols)
            for r in compile_sql(spark, sql, cats(False), order_cols=["ts"]).collect()
        )
        s = sorted(
            tuple(r[c] for c in cols)
            for r in run_rule_available_now(
                spark, cats(True), sql, order_cols=["ts"]
            ).collect()
        )
        assert b == s and len(b) > 0, sql


def test_count_window_join_order_by_nulls_last(spark):
    """A finalized windowed join sorts once, nulls last (sorter.go:68-73),
    whether ORDER BY names a qualified column or a select alias."""
    cat = Catalog()
    cat.register_df("sa", spark.createDataFrame(
        [(1, 1000, 1, 3.0), (2, 2000, 1, None), (3, 3000, 2, 1.0), (4, 4000, 2, None)],
        "aid long, ts long, k long, v double",
    ))
    cat.register(StreamDef(name="sa", kind="stream"))
    cat.register_df("sb", spark.createDataFrame(
        [(11, 1500, 1), (12, 2500, 2), (13, 3500, 1), (14, 4500, 2)],
        "bid long, bts long, bk long",
    ))
    cat.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
    for sql in [
        "SELECT aid, v FROM sa INNER JOIN sb ON sa.k = sb.bk "
        "GROUP BY COUNTWINDOW(8) ORDER BY sa.v",
        "SELECT aid, v AS y FROM sa INNER JOIN sb ON sa.k = sb.bk "
        "GROUP BY COUNTWINDOW(8) ORDER BY y ASC",
    ]:
        vals = [r[1] for r in compile_sql(spark, sql, cat).collect()]
        assert vals == [1.0, 1.0, 3.0, 3.0, None, None, None, None], sql

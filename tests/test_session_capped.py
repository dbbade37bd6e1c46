"""SESSIONWINDOW(unit, length, interval) — reference max-duration
semantics (internal/topo/node/window_op.go:304-347,
docs/en_US/sqls/windows.md:62-74): length = max-duration cap, interval =
timeout.  Sessions extend while consecutive events arrive within the
timeout (a gap exactly equal to it extends — strict `>` split) and are
force-closed at the first cap-grid tick T = k*length with
T - session_start > length.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ekuiper_spark import Catalog, compile_sql


def _mk(spark, rows):
    # (key, seconds-offset, value) -> events-like frame, epoch-aligned
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    data = [
        (k, base + dt.timedelta(seconds=s), float(v), i)
        for i, (k, s, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "user_id string, ts timestamp, value double, event_id long"
    )


@pytest.fixture()
def cat(spark):
    c = Catalog()
    return c


def _run(spark, cat, df, sql):
    cat.register_df("events", df)
    out = compile_sql(spark, sql, cat)
    return sorted(
        (r["user_id"], r["s"], r["e"], r["n"]) for r in out.collect()
    )


SQL = (
    "SELECT user_id, window_start() AS s, window_end() AS e, count(*) AS n "
    "FROM events GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)"
)


def _t(s):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)


def test_timeout_split_and_exact_gap_extends(spark, cat):
    # gap of exactly 60s extends (reference: tt.Sub(p) > timeout splits);
    # gap of 61s splits, closing at p+timeout
    rows = [("a", 10, 1), ("a", 70, 1), ("a", 131, 1)]
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(10), _t(130), 2),  # 10,70 (exact-60 gap extends); close 70+60
        ("a", _t(131), _t(191), 1),
    ]


def test_cap_splits_at_grid_tick(spark, cat):
    # events every 30s from t=10: session start bucket 0 (cap 120s),
    # force-close tick = 240; events 10..220 in session 1, 250.. next.
    rows = [("a", 10 + 30 * i, 1) for i in range(12)]  # 10..340
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(10), _t(240), 8),   # 10..220, closed at tick 240
        # in-island follow-up session opens AT the closing tick
        # (window_op.go:734 triggerTime = close; TestWindowRule5)
        ("a", _t(240), _t(400), 4),  # 250..340, close = 340+60 (< tick 480)
    ]


def test_event_at_tick_joins_closing_session(spark, cat):
    # reference parity (window_op.go:322 tt.After(tick) is strict): an
    # event exactly at the closing tick T is INCLUDED in the closing
    # session; the session closes at T
    rows = [("a", 60 * i, 1) for i in range(5)]  # 0,60,...,240: no timeout gap
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(0), _t(240), 5),  # 0..240 inclusive, force-closed at tick 240
    ]


def test_event_at_tick_with_following_session(spark, cat):
    # on-tick event closes session 1 at T=240; the NEXT event (within
    # timeout) starts session 2, whose own close tick derives from its
    # start bucket (golden corpus case from the round-4 verdict)
    rows = [("a", 60 * i, 1) for i in range(5)] + [("a", 290, 1), ("a", 340, 1)]
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(0), _t(240), 5),    # 0..240 inclusive
        # same island (gap 50 <= timeout): session 2 opens at the tick
        ("a", _t(240), _t(400), 2),  # 290,340; close = 340+60 (< tick 480)
    ]


def test_event_at_tick_streaming_matches_batch(spark, cat):
    # the streaming sessionizer (exact sequential scan) agrees with the
    # batch construction on the on-tick membership
    import os
    import uuid as _uuid

    rows = [("a", 60 * i, 1) for i in range(5)] + [("a", 290, 1), ("a", 500, 1)]
    df = _mk(spark, rows)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "p")
        df.coalesce(1).write.parquet(p)
        sdf = spark.readStream.schema(df.schema).parquet(p)
        cat.register_df("events", sdf)
        out = compile_sql(
            spark,
            "SELECT user_id, count(*) AS n, min(ts) AS s FROM events "
            "GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)",
            cat,
            streaming=True,
        )
        name = "t_tick_" + _uuid.uuid4().hex[:6]
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted((r["user_id"], r["n"], r["s"]) for r in spark.table(name).collect())
    # session 1: 0..240 inclusive (5 events); session 2: {290} closed by
    # timeout when 500 arrives; {500} stays open (no flush configured)
    assert got == [("a", 1, _t(290)), ("a", 5, _t(0))]


def test_session_flush_open_on_quiet_key(spark, cat, tmp_path):
    """rule option session_flush_ms: the trailing open session closes by
    a processing-time state timeout (the reference's wall-clock ticker,
    window_op.go:304-347) instead of waiting for a later event."""
    import os
    import time
    import uuid as _uuid

    rows = [("a", 10, 1), ("a", 40, 1)]  # one open session, never closed by data
    df = _mk(spark, rows)
    p = str(tmp_path / "p")
    df.coalesce(1).write.parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    cat.register_df("events", sdf)
    out = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n, min(ts) AS s FROM events "
        "GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)",
        cat,
        streaming=True,
        rule_ctx={"props": {"session_flush_ms": 300}},
    )
    name = "t_flush_" + _uuid.uuid4().hex[:6]
    # default (continuous) trigger: ProcessingTimeTimeout keeps batches
    # running, so the timed-out key flushes without new data
    q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        deadline = time.time() + 60
        got = []
        while time.time() < deadline:
            got = sorted(
                (r["user_id"], r["n"], r["s"]) for r in spark.table(name).collect()
            )
            if got:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    assert got == [("a", 2, _t(10))]


def test_sessions_are_per_key(spark, cat):
    rows = [("a", 0, 1), ("b", 30, 1), ("a", 50, 1), ("b", 200, 1)]
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(0), _t(110), 2),
        ("b", _t(30), _t(90), 1),
        ("b", _t(200), _t(260), 1),
    ]


def test_aligned_start_closes_at_two_caps(spark, cat):
    # session starting exactly on the grid closes at start+2*cap
    rows = [("a", 0 + 50 * i, 1) for i in range(6)]  # 0,50,...,250
    got = _run(spark, cat, _mk(spark, rows), SQL)
    assert got == [
        ("a", _t(0), _t(240), 5),    # 0..200, tick 240 closes
        ("a", _t(240), _t(310), 1),  # follow-up session opens at the tick
    ]


def test_streaming_capped_session_multi_batch(spark, cat, tmp_path):
    """Stateful streaming path: the open session carries across
    micro-batches; a later batch's events close it (by timeout and by
    cap).  The trailing open session stays in state (the reference
    closes it by wall-clock timer)."""
    import os
    import time
    import uuid as _uuid

    rows1 = [("a", 10 + 30 * i, 1) for i in range(4)]   # 10..100 (open)
    rows2 = [("a", 130 + 30 * i, 1) for i in range(4)]  # 130..220 extends; then
    rows2 += [("a", 250, 1), ("a", 500, 1)]  # 250 closes at tick 240; 500 closes 250 by timeout
    df1, df2 = _mk(spark, rows1), _mk(spark, rows2)
    sdir = str(tmp_path / "stream")
    os.makedirs(sdir)
    df1.coalesce(1).write.parquet(str(tmp_path / "p1"))
    df2.coalesce(1).write.parquet(str(tmp_path / "p2"))
    import glob
    import shutil

    now = time.time()
    for i, sub in enumerate(["p1", "p2"]):
        src = glob.glob(str(tmp_path / sub / "*.parquet"))[0]
        dst = os.path.join(sdir, f"{sub}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now - 60 + i * 30, now - 60 + i * 30))
    sdf = spark.readStream.schema(df1.schema).option("maxFilesPerTrigger", 1).parquet(sdir)
    cat.register_df("events", sdf)
    out = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n, min(ts) AS s FROM events "
        "GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)",
        cat,
        streaming=True,
    )
    name = "t_sess_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["user_id"], r["n"], r["s"]) for r in spark.table(name).collect())
    # session 1: 10..220 (8 events, cross-batch, closed by tick 240 when
    # 250 arrives); session 2: {250} closed by timeout when 500 arrives;
    # session 3: {500} stays open -> not emitted
    assert got == [("a", 1, _t(250)), ("a", 8, _t(10))]


def test_reference_corpus_session_demo_e(spark, cat, tmp_path):
    """Golden replay of the reference's TestEventWindow sessionDemoE case
    (window_rule_test.go:1003-1030, mocknode/mock_data.go:396-505):
    SessionWindow(ss, 2, 1) over event-time `ts` with out-of-order
    arrival.  Exercises, in one stream: late-arrival drop (27.5 arrives
    after the watermark passed), in-tolerance reorder (27.4 arrives after
    25.5 but within tolerance), cap-grid force close, timeout close, and
    the trailing open session staying in state.  Expected windows:
    [25.5], [28.1, 27.4, 25.5], [26.2, 26.8, 28.9, 29.1, 32.2], [30.9]."""
    import glob
    import os
    import shutil
    import uuid as _uuid

    # (temp, event-time ms) in ARRIVAL order from the reference mock
    arrival = [
        (25.5, 1541152486013),
        (28.1, 1541152487932),
        (27.5, 1541152486823),  # late: watermark passed after 28.1
        (25.5, 1541152489252),
        (27.4, 1541152488442),  # out-of-order but inside the tolerance
        (26.2, 1541152490062),
        (28.9, 1541152491682),
        (26.8, 1541152490872),
        (29.1, 1541152492492),
        (30.9, 1541152494112),
        (32.2, 1541152493202),
        (32.2, 1541152499202),  # trailing open session, never emitted
    ]
    sdir = str(tmp_path / "sde")
    os.makedirs(sdir)
    schema = "temp double, ts timestamp"
    for i, (temp, ms) in enumerate(arrival):
        one = spark.createDataFrame(
            [(temp, dt.datetime.utcfromtimestamp(ms / 1000.0))], schema
        )
        one.coalesce(1).write.parquet(str(tmp_path / f"r{i}"))
        shutil.copy(
            glob.glob(str(tmp_path / f"r{i}" / "*.parquet"))[0],
            os.path.join(sdir, f"{i:02d}.parquet"),
        )
    sdf = (
        spark.readStream.schema(spark.read.parquet(sdir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    cat.register_df("sessionDemoE", sdf)
    out = compile_sql(
        spark,
        "SELECT collect(temp) AS temps, count(*) AS n FROM sessionDemoE "
        "GROUP BY SESSIONWINDOW(ss, 2, 1)",
        cat,
        streaming=True,
        watermark="1 seconds",
    )
    name = "sde_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (tuple(r["temps"]) for r in spark.table(name).collect()), key=lambda t: t[0]
    )
    expect = sorted(
        [
            (25.5,),
            (28.1, 27.4, 25.5),
            (26.2, 26.8, 28.9, 29.1, 32.2),
            (30.9,),
        ],
        key=lambda t: t[0],
    )
    assert got == expect, got


def test_reference_window_rule5_session_demo_batch(spark, cat):
    """Golden replay of TestWindowRule5 (window_rule_test.go:282-316) over
    the sessionDemo mock rows (mock_data.go:183-283): count(temp) with
    window_start/window_end per SessionWindow(ss, 2, 1).

    Pins the ws-at-tick rule: the island's first session opens at its
    first event (486013, 487932) while in-island follow-up sessions open
    AT the previous force-close tick (490000), and close times are
    last+timeout (487823) for timeout splits vs the cap tick (490000,
    494000) for force-closes.  The trailing session (one event, 494112)
    is the bounded-replay extra the reference only emits once the
    wall-clock/watermark closes it — TestEventWindowRule8 pins its exact
    bounds (494000, 495112)."""
    rows = [
        (25.5, 1541152486013), (27.5, 1541152486823), (28.1, 1541152487932),
        (27.4, 1541152488442), (25.5, 1541152489252), (26.2, 1541152490062),
        (26.8, 1541152490872), (28.9, 1541152491682), (29.1, 1541152492492),
        (32.2, 1541152493202), (30.9, 1541152494112),
    ]
    sdf = spark.createDataFrame(rows, "temp double, ts long")
    cat.register_df("sessionDemo", sdf)
    out = compile_sql(
        spark,
        "SELECT count(temp) AS n, window_start() AS ws, window_end() AS we "
        "FROM sessionDemo GROUP BY SessionWindow(ss, 2, 1)",
        cat,
    )
    got = sorted((r["ws"], r["we"], r["n"]) for r in out.collect())
    assert got == [
        (1541152486013, 1541152487823, 2),
        (1541152487932, 1541152490000, 3),
        (1541152490000, 1541152494000, 5),
        (1541152494000, 1541152495112, 1),
    ]


def test_streaming_session_window_bounds(spark, cat, tmp_path):
    """Streaming capped sessions expose window_start()/window_end(): the
    sessionizer emits per-session bounds, including the ws-at-tick rule
    across micro-batches (the cross-batch follow-up session opens at the
    tick its predecessor closed on, carried in state)."""
    import glob
    import os
    import shutil
    import time
    import uuid as _uuid

    rows1 = [("a", 10 + 30 * i, 1) for i in range(4)]   # 10..100 (open)
    rows2 = [("a", 130 + 30 * i, 1) for i in range(4)]  # extends to 220; then
    rows2 += [("a", 250, 1), ("a", 500, 1)]  # tick close 240; timeout close
    df1, df2 = _mk(spark, rows1), _mk(spark, rows2)
    sdir = str(tmp_path / "stream")
    os.makedirs(sdir)
    df1.coalesce(1).write.parquet(str(tmp_path / "p1"))
    df2.coalesce(1).write.parquet(str(tmp_path / "p2"))
    now = time.time()
    for i, sub in enumerate(["p1", "p2"]):
        src = glob.glob(str(tmp_path / sub / "*.parquet"))[0]
        dst = os.path.join(sdir, f"{sub}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now - 60 + i * 30, now - 60 + i * 30))
    sdf = spark.readStream.schema(df1.schema).option("maxFilesPerTrigger", 1).parquet(sdir)
    cat.register_df("events", sdf)
    out = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n, window_start() AS ws, "
        "window_end() AS we FROM events "
        "GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)",
        cat,
        streaming=True,
    )
    name = "t_sessb_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["ws"], r["we"], r["n"]) for r in spark.table(name).collect())
    # session 1: first event 10, tick close 240; session 2: same island
    # (gap 250-220=30 <= 60) -> opens AT the tick 240, timeout close 310
    assert got == [(_t(10), _t(240), 8), (_t(240), _t(310), 1)]


def test_streaming_session_ms_long_event_col(spark, cat, tmp_path):
    """Long event columns carry epoch MILLIS (the reference's native
    unit); the streaming sessionizer's cap/timeout must scale to the
    column's unit or every gap looks 1000x smaller (caught by the
    sliding-window variant of the same bug)."""
    import os
    import uuid as _uuid

    # ms-long ts: two sessions split by a 70s gap (timeout 60s)
    rows = [("a", 1_000_000 + 1000 * s, 1.0) for s in (0, 30, 100, 130)]
    df = spark.createDataFrame(rows, "user_id string, ts long, value double")
    p = os.path.join(str(tmp_path), "msl")
    df.coalesce(1).write.parquet(p)
    sdf = spark.readStream.schema(df.schema).parquet(p)
    cat.register_df("events", sdf)
    out = compile_sql(
        spark,
        "SELECT user_id, count(*) AS n, min(ts) AS s FROM events "
        "GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)",
        cat,
        streaming=True,
        order_cols=["ts"],
    )
    name = "msl_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["user_id"], r["n"], r["s"]) for r in spark.table(name).collect())
    # {0,30} closed by the 70s gap; {100,130} stays open (no flush)
    assert got == [("a", 2, 1_000_000)]


def test_timeout_close_keeps_fused_analytic_state(spark, cat, tmp_path):
    """A session closed by its watermark timeout keeps the key's state
    row: the key's next session continues the fused lag() state (batch
    parity) instead of starting it from empty."""
    import glob
    import os
    import shutil
    import time
    import uuid as _uuid

    # one file per micro-batch: b's later events move the watermark past
    # a's first session, which then closes by timeout before a's next
    # event arrives
    rows = [
        ("a", 0, 10), ("a", 10, 20), ("b", 200, 1), ("b", 210, 2),
        ("a", 300, 30), ("b", 1000, 3), ("b", 1010, 4),
    ]
    sql = (
        "SELECT user_id, max(lag(value) OVER (PARTITION BY user_id)) AS ml, "
        "count(*) AS n FROM events GROUP BY user_id, SESSIONWINDOW(ss, 120, 60)"
    )
    df = _mk(spark, rows)
    sdir = tmp_path / "src"
    sdir.mkdir()
    now = time.time()
    for i in range(len(rows)):
        part = tmp_path / f"r{i}"
        df.filter(F.col("event_id") == i).coalesce(1).write.parquet(str(part))
        dst = str(sdir / f"{i:02d}.parquet")
        shutil.copy(glob.glob(str(part / "*.parquet"))[0], dst)
        os.utime(dst, (now - 600 + i * 10,) * 2)
    cat.register_df("events", df)
    batch = sorted(
        (tuple(r) for r in compile_sql(
            spark, sql, cat, order_cols=["ts", "event_id"]
        ).collect()),
        key=repr,
    )
    sdf = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    cat.register_df("events", sdf)
    out = compile_sql(
        spark, sql, cat, streaming=True, watermark="1 seconds",
        order_cols=["ts", "event_id"],
    )
    name = "t_tmo_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((tuple(r) for r in spark.table(name).collect()), key=repr)
    # a's second session holds one event (300 s): its lag reads a's last
    # value, 20.0; streaming omits only b's trailing open session
    assert ("a", 20.0, 1) in batch
    assert got == [r for r in batch if r != ("b", 3.0, 2)], (got, batch)

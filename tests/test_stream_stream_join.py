"""Two-stream windowed joins (reference join_operator.go:27-398,
window-gated per planner.go:734-735).

Streaming compiles a watermarked stream-stream equi-join on the
TUMBLINGWINDOW bucket; an unwindowed stream-stream join raises the
reference's planner error instead of silently freezing the right side.
"""

from __future__ import annotations

import datetime as dt
import uuid as _uuid

import pytest

from ekuiper_spark import Catalog, compile_sql
from ekuiper_spark.catalog import StreamDef


def _t(s):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)


@pytest.fixture()
def two_streams(spark, tmp_path):
    # u99/u98 sentinels never join; they advance each side's watermark past
    # the second window's end so append-mode aggregation can finalize it
    left = spark.createDataFrame(
        [(1, _t(5), 10.0), (1, _t(65), 20.0), (2, _t(10), 30.0), (3, _t(70), 40.0),
         (99, _t(200), 0.0)],
        "user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(1, _t(20), "a"), (1, _t(100), "b"), (2, _t(50), "c"), (2, _t(130), "d"),
         (98, _t(200), "z")],
        "user_id long, rts timestamp, tag string",
    )
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left.coalesce(1).write.parquet(lp)
    right.coalesce(1).write.parquet(rp)
    cat = Catalog()
    cat.register(StreamDef(name="s1", format="parquet", path=lp, kind="stream"))
    cat.register(
        StreamDef(name="s2", format="parquet", path=rp, kind="stream", timestamp_col="rts")
    )
    return cat


def test_unwindowed_stream_stream_join_raises(spark, two_streams):
    with pytest.raises(NotImplementedError, match="time window is required"):
        compile_sql(
            spark,
            "SELECT s1.user_id FROM s1 INNER JOIN s2 ON s1.user_id = s2.user_id",
            two_streams,
            streaming=True,
        )


def test_windowed_stream_stream_join(spark, two_streams):
    # 60s buckets: (u1,t5)x(u1,t20) in bucket 0; (u1,t65)x(u1,t100) in
    # bucket 1; (u2,t10)x(u2,t50) in bucket 0; u2 t130 and u3 t70 no match
    out = compile_sql(
        spark,
        "SELECT s1.user_id AS uid, s1.value AS v, s2.tag AS tag FROM s1 "
        "INNER JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_ssj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["uid"], r["v"], r["tag"]) for r in spark.table(name).collect())
    assert got == [(1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c")]


def test_windowed_stream_stream_join_with_agg(spark, two_streams):
    out = compile_sql(
        spark,
        "SELECT window_start() AS ws, count(*) AS n FROM s1 "
        "INNER JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_ssja_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted((r["ws"], r["n"]) for r in spark.table(name).collect())
    assert got == [(_t(0), 2), (_t(60), 1)]


def test_batch_mode_two_stream_join_is_window_gated(spark, two_streams):
    """Batch runs of a two-STREAM rule apply the same window gating:
    cross-window pairs (u1 t5 x u1 t100, buckets 0 vs 1) never join,
    matching the streaming result exactly."""
    out = compile_sql(
        spark,
        "SELECT s1.user_id AS uid, s1.value AS v, s2.tag AS tag FROM s1 "
        "INNER JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=False,
    )
    got = sorted((r["uid"], r["v"], r["tag"]) for r in out.collect())
    assert got == [(1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c")]
    with pytest.raises(NotImplementedError, match="time window is required"):
        compile_sql(
            spark,
            "SELECT s1.user_id FROM s1 INNER JOIN s2 ON s1.user_id = s2.user_id",
            two_streams,
            streaming=False,
        )


def test_windowed_stream_stream_left_join(spark, two_streams):
    """LEFT stream-stream join: unmatched left rows emit nulls once the
    watermark passes their window (u3 t70 has no s2 match in bucket 1)."""
    out = compile_sql(
        spark,
        "SELECT s1.user_id AS uid, s2.tag AS tag FROM s1 "
        "LEFT JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_sslj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["uid"], r["tag"]) for r in spark.table(name).collect()
        if r["uid"] != 99  # watermark sentinel
    )
    assert got == [(1, "a"), (1, "b"), (2, "c"), (3, None)]


def test_windowed_stream_stream_right_join(spark, two_streams):
    """RIGHT stream-stream join (symmetric of LEFT, join_operator.go
    RIGHT_JOIN): unmatched right rows emit nulls once the watermark
    passes their window (u2 t130 in bucket 2 has no s1 match)."""
    out = compile_sql(
        spark,
        "SELECT s1.value AS v, s2.user_id AS uid, s2.tag AS tag FROM s1 "
        "RIGHT JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_ssrj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        ((r["uid"], r["v"], r["tag"]) for r in spark.table(name).collect()
         if r["uid"] != 98),  # watermark sentinel
        key=str,
    )
    assert got == sorted(
        [(1, 10.0, "a"), (1, 20.0, "b"), (2, 30.0, "c"), (2, None, "d")], key=str
    )


def test_windowed_stream_stream_hopping_join(spark, two_streams):
    """HOPPING window gate: each event joins per covering window instance
    (size 60s, slide 30s -> two instances per event).  (u1,t5)x(u1,t20)
    share instances [-30,30) and [0,60); (u2,t10)x(u2,t50) share only
    [0,60); (u1,t65)x(u1,t100) share only [60,120)."""
    out = compile_sql(
        spark,
        "SELECT window_start() AS ws, s1.user_id AS uid, s1.value AS v, "
        "s2.tag AS tag FROM s1 "
        "INNER JOIN s2 ON s1.user_id = s2.user_id "
        "GROUP BY HOPPINGWINDOW(ss, 60, 30)",
        two_streams,
        streaming=True,
    )
    name = "t_sshj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["ws"], r["uid"], r["v"], r["tag"]) for r in spark.table(name).collect()
    )
    assert got == [
        (_t(-30), 1, 10.0, "a"),
        (_t(0), 1, 10.0, "a"),
        (_t(0), 2, 30.0, "c"),
        (_t(60), 1, 20.0, "b"),
    ]


def test_windowed_stream_stream_full_join(spark, two_streams):
    """FULL stream-stream join (join_operator.go FULL_JOIN): matched pairs
    plus both sides' unmatched rows once the watermark passes their
    window.  Works because the watermark rides the window bucket in the
    join keys (the raw ts column's event-time marker is stripped)."""
    out = compile_sql(
        spark,
        "SELECT s1.user_id AS luid, s1.value AS v, s2.user_id AS ruid, "
        "s2.tag AS tag FROM s1 "
        "FULL JOIN s2 ON s1.user_id = s2.user_id GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_ssfj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        ((r["luid"], r["v"], r["ruid"], r["tag"]) for r in spark.table(name).collect()
         if r["luid"] not in (99,) and r["ruid"] not in (98,)),
        key=str,
    )
    # matched: (1,t5)x(1,t20), (1,t65)x(1,t100), (2,t10)x(2,t50);
    # left-only: (3,t70); right-only: (2,t130)
    assert got == sorted(
        [
            (1, 10.0, 1, "a"),
            (1, 20.0, 1, "b"),
            (2, 30.0, 2, "c"),
            (3, 40.0, None, None),
            (None, None, 2, "d"),
        ],
        key=str,
    )


def test_windowed_stream_stream_cross_join(spark, two_streams):
    """CROSS join within the window: every same-bucket pair joins
    (join_operator.go CROSS_JOIN over the window batch)."""
    out = compile_sql(
        spark,
        "SELECT s1.user_id AS luid, s2.user_id AS ruid FROM s1 "
        "CROSS JOIN s2 GROUP BY TUMBLINGWINDOW(ss, 60)",
        two_streams,
        streaming=True,
    )
    name = "t_sscj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(
        (r["luid"], r["ruid"]) for r in spark.table(name).collect()
    )
    # bucket 0: s1 {u1 t5, u2 t10} x s2 {u1 t20, u2 t50} = 4 pairs;
    # bucket 1: s1 {u1 t65, u3 t70} x s2 {u1 t100} = 2 pairs;
    # bucket 2: s2-only {u2 t130} no pairs; sentinels pair at t200
    assert got == [
        (1, 1), (1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (99, 98),
    ]


def _feed_two_batch_join(spark, tmp_path, tag):
    """demo + demo1 mock rows split into two arrival-ordered micro-batches
    per source (mock_data.go; demo1 windows on its ARRIVAL time mts)."""
    import glob
    import os
    import shutil
    import time as _time

    from ekuiper_spark.catalog import Catalog, StreamDef

    demo_batches = [
        [("red", 3, 1541152486013), ("blue", 6, 1541152486822)],
        [("blue", 2, 1541152487632), ("yellow", 4, 1541152488442), ("red", 1, 1541152489252)],
    ]
    demo1_batches = [
        [(25.5, 65, 1541152486013, 1541152486115), (27.5, 59, 1541152486823, 1541152486903)],
        [(28.1, 75, 1541152487632, 1541152487702), (27.4, 80, 1541152488442, 1541152488605),
         (25.5, 62, 1541152489252, 1541152489305)],
    ]
    now = _time.time()
    ddir = str(tmp_path / f"d_{tag}")
    d1dir = str(tmp_path / f"d1_{tag}")
    os.makedirs(ddir)
    os.makedirs(d1dir)
    for i, rows in enumerate(demo_batches):
        df = spark.createDataFrame(rows, "color string, size long, ts long")
        df.coalesce(1).write.parquet(str(tmp_path / f"db_{tag}{i}"))
        dst = os.path.join(ddir, f"{i}.parquet")
        shutil.copy(glob.glob(str(tmp_path / f"db_{tag}{i}" / "*.parquet"))[0], dst)
        os.utime(dst, (now - 100 + i * 10, now - 100 + i * 10))
    for i, rows in enumerate(demo1_batches):
        df = spark.createDataFrame(rows, "temp double, hum long, ts long, mts long")
        df.coalesce(1).write.parquet(str(tmp_path / f"d1b_{tag}{i}"))
        dst = os.path.join(d1dir, f"{i}.parquet")
        shutil.copy(glob.glob(str(tmp_path / f"d1b_{tag}{i}" / "*.parquet"))[0], dst)
        os.utime(dst, (now - 100 + i * 10, now - 100 + i * 10))
    cat = Catalog()
    cat.register_df(
        "demo",
        spark.readStream.schema("color string, size long, ts long")
        .option("maxFilesPerTrigger", 1).parquet(ddir),
    )
    cat.register(StreamDef(name="demo", kind="stream"))
    cat.register_df(
        "demo1",
        spark.readStream.schema("temp double, hum long, ts long, mts long")
        .option("maxFilesPerTrigger", 1).parquet(d1dir),
    )
    cat.register(StreamDef(name="demo1", kind="stream", timestamp_col="mts"))
    return cat


def test_streaming_sliding_join_agg(spark, tmp_path):
    """TestWindowRule6 through the STREAMING stateful window+join chain
    (two micro-batches per source — state carries the lookback): every
    arrival triggers a [t-1s, t] frame over both streams; empty join
    results emit nothing; 8 of 10 triggers emit."""
    import uuid as _uuid

    cat = _feed_two_batch_join(spark, tmp_path, "agg")
    out = compile_sql(
        spark,
        "SELECT window_end(), event_time(), sum(temp) as temp1, "
        "count(color) as c, window_start() FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts GROUP BY SlidingWindow(ss, 1)",
        cat,
        streaming=True,
        order_cols=["ts"],
    )
    name = "ssj_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["window_start"], r["window_end"], r["event_time"], r["temp1"], r["c"])
        for r in spark.table(name).collect()
    )
    assert rows == [
        (1541152485115, 1541152486115, 1541152486115, 25.5, 1),
        (1541152485822, 1541152486822, 1541152486822, 25.5, 1),
        (1541152485903, 1541152486903, 1541152486903, 25.5, 1),
        (1541152486702, 1541152487702, 1541152487702, 28.1, 1),
        (1541152487442, 1541152488442, 1541152488442, 28.1, 1),
        (1541152487605, 1541152488605, 1541152488605, 55.5, 2),
        (1541152488252, 1541152489252, 1541152489252, 27.4, 1),
        (1541152488305, 1541152489305, 1541152489305, 52.9, 2),
    ], rows


def test_streaming_sliding_join_content(spark, tmp_path):
    """TestWindowRule3's content emission (sans the HAVING throttle, which
    stays batch-only): each trigger emits its whole joined frame."""
    import uuid as _uuid

    cat = _feed_two_batch_join(spark, tmp_path, "cnt")
    out = compile_sql(
        spark,
        "SELECT color, temp, demo.ts as ts1, demo1.ts as ts2, "
        "demo.ts - demo1.ts as diff FROM demo INNER JOIN demo1 "
        "ON ts1 = ts2 GROUP BY SlidingWindow(ss, 1)",
        cat,
        streaming=True,
        order_cols=["ts"],
    )
    name = "ssc_" + _uuid.uuid4().hex[:6]
    q = (
        out.writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["color"], r["temp"], r["ts1"], r["ts2"], r["diff"])
        for r in spark.table(name).collect()
    )
    assert rows == [
        ("blue", 28.1, 1541152487632, 1541152487632, 0),
        ("blue", 28.1, 1541152487632, 1541152487632, 0),
        ("blue", 28.1, 1541152487632, 1541152487632, 0),
        ("red", 25.5, 1541152486013, 1541152486013, 0),
        ("red", 25.5, 1541152486013, 1541152486013, 0),
        ("red", 25.5, 1541152486013, 1541152486013, 0),
        ("red", 25.5, 1541152489252, 1541152489252, 0),
        ("yellow", 27.4, 1541152488442, 1541152488442, 0),
        ("yellow", 27.4, 1541152488442, 1541152488442, 0),
        ("yellow", 27.4, 1541152488442, 1541152488442, 0),
    ], rows


def _feed_join_cats(spark, tmp_path, tag, extra_demo=(), extra_demo1=()):
    """Streaming AND batch catalogs over the same two-stream fixture
    (+optional sentinel rows), for availableNow == batch equality."""
    import glob
    import os
    import shutil
    import time as _time

    demo_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252),
    ] + list(extra_demo)
    demo1_rows = [
        (25.5, 65, 1541152486013, 1541152486115), (27.5, 59, 1541152486823, 1541152486903),
        (28.1, 75, 1541152487632, 1541152487702), (27.4, 80, 1541152488442, 1541152488605),
        (25.5, 62, 1541152489252, 1541152489305),
    ] + list(extra_demo1)
    ddir, d1dir = str(tmp_path / f"jd_{tag}"), str(tmp_path / f"jd1_{tag}")
    spark.createDataFrame(demo_rows, "color string, size long, ts long") \
        .coalesce(1).write.parquet(ddir)
    spark.createDataFrame(demo1_rows, "temp double, hum long, ts long, mts long") \
        .coalesce(1).write.parquet(d1dir)

    scat = Catalog()
    scat.register_df(
        "demo",
        spark.readStream.schema("color string, size long, ts long").parquet(ddir),
    )
    scat.register(StreamDef(name="demo", kind="stream"))
    scat.register_df(
        "demo1",
        spark.readStream.schema("temp double, hum long, ts long, mts long").parquet(d1dir),
    )
    scat.register(StreamDef(name="demo1", kind="stream", timestamp_col="mts"))

    bcat = Catalog()
    bcat.register_df("demo", spark.read.parquet(ddir))
    bcat.register(StreamDef(name="demo", kind="stream"))
    bcat.register_df("demo1", spark.read.parquet(d1dir))
    bcat.register(StreamDef(name="demo1", kind="stream", timestamp_col="mts"))
    return scat, bcat


def _stream_vs_batch(spark, sql, scat, bcat, cols):
    import uuid as _uuid
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        sdf = compile_sql(spark, sql, scat, streaming=True, order_cols=["ts"])
        name = "svb_" + _uuid.uuid4().hex[:6]
        q = (
            sdf.writeStream.format("memory").queryName(name).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted(tuple(r[c] for c in cols) for r in spark.table(name).collect())
        bdf = compile_sql(spark, sql, bcat, order_cols=["ts"])
        want = sorted(tuple(r[c] for c in cols) for r in bdf.collect())
    return got, want


def test_streaming_sliding_join_delay(spark, tmp_path):
    """SLIDINGWINDOW(ss, 1, 1): frames reach 1s FORWARD; a trigger emits
    once a covering row arrives (far-future non-matching sentinels close
    the tail, mirroring the reference's delayed-timer flush)."""
    scat, bcat = _feed_join_cats(
        spark, tmp_path, "dly",
        extra_demo=[("zz", 0, 1541152599000)],
        extra_demo1=[(0.0, 0, 1541152599001, 1541152599001)],
    )
    sql = (
        "SELECT window_end(), sum(temp) AS temp1, count(color) AS c "
        "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1, 1)"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["window_end", "temp1", "c"])
    assert got == want and len(want) > 0


def test_streaming_sliding_join_where_content(spark, tmp_path):
    """WHERE over the joined frames (FilterPlan above JoinPlan) filters
    the emitted content rows."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "whr")
    sql = (
        "SELECT color, temp FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts WHERE temp > 26 GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["color", "temp"])
    assert got == want and len(want) > 0
    assert all(t > 26 for _c, t in got)


def test_streaming_sliding_join_having_agg(spark, tmp_path):
    """HAVING over per-trigger aggregates gates trigger emissions."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "hva")
    sql = (
        "SELECT window_end(), count(color) AS c FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
        "HAVING count(color) > 1"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["window_end", "c"])
    assert got == want and len(want) > 0
    assert all(c > 1 for _w, c in got)


def test_streaming_sliding_join_having_content(spark, tmp_path):
    """HAVING over non-aggregated join content gates whole frames
    (TestWindowRule3's collection semantics)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "hvc")
    sql = (
        "SELECT color, temp FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
        "HAVING count(color) > 1"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["color", "temp"])
    assert got == want and len(want) > 0


def test_streaming_sliding_join_non_equi_inner(spark, tmp_path):
    """Non-equi ON over an INNER content join: the op emits frame pairs,
    the ON filters natively downstream."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "neq")
    sql = (
        "SELECT color, temp FROM demo INNER JOIN demo1 "
        "ON demo.ts >= demo1.ts AND demo.ts < demo1.ts + 500 "
        "GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["color", "temp"])
    assert got == want and len(want) > 0


def test_streaming_sliding_join_mixed_side_call_on(spark, tmp_path):
    """An INNER content join whose ON mixes both sides inside a call the
    in-op lane cannot evaluate (startswith): the op emits the candidate
    pairs (equi subset, or cross when none) and the residual filters
    natively downstream — same rows as the batch join."""
    base = str(tmp_path / "msc")
    spark.createDataFrame(
        [("red", 50, 1541152486013), ("blue", 58, 1541152486822),
         ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
         ("red", 48, 1541152489252)],
        "color string, size long, ts long",
    ).coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(
        [(25.5, "re", 1541152486013), (27.5, "bl", 1541152486822),
         (28.1, "ye", 1541152487632), (27.4, "ye", 1541152488442),
         (25.5, "r", 1541152489252)],
        "temp double, prefix string, ts long",
    ).coalesce(1).write.parquet(base + "/b")
    scat, bcat = Catalog(), Catalog()
    for nm, sub, schema in (
        ("demo", "/a", "color string, size long, ts long"),
        ("demo1", "/b", "temp double, prefix string, ts long"),
    ):
        scat.register_df(nm, spark.readStream.schema(schema).parquet(base + sub))
        scat.register(StreamDef(name=nm, kind="stream"))
        bcat.register_df(nm, spark.read.parquet(base + sub))
        bcat.register(StreamDef(name=nm, kind="stream"))
    for on in (
        "demo.ts = demo1.ts AND startswith(demo.color, demo1.prefix)",
        "startswith(demo.color, demo1.prefix)",
    ):
        sql = (
            f"SELECT color, temp, prefix FROM demo INNER JOIN demo1 ON {on} "
            "GROUP BY SLIDINGWINDOW(ss, 1)"
        )
        got, want = _stream_vs_batch(
            spark, sql, scat, bcat, ["color", "temp", "prefix"]
        )
        assert got == want and len(want) > 0, on
        assert all(c.startswith(p) for c, _t, p in got), on


def test_streaming_sliding_join_trigger_throttle(spark, tmp_path):
    """OVER (WHEN ts - last_hit_time() > K): the gap-throttle gates which
    arrivals trigger, with last-hit advancing on emission."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "thr")
    sql = (
        "SELECT window_end(), count(color) AS c FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 1000)"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["window_end", "c"])
    assert got == want and len(want) > 0


def test_streaming_sliding_join_where_aggregated(spark, tmp_path):
    """WHERE over an AGGREGATED sliding join (FilterPlan above JoinPlan):
    filtered rows still TRIGGER frames; the filter prunes PAIRS before
    the per-trigger aggregation (single-side conjuncts factorize into
    per-side keep flags inside the stateful op).  Same-time cross-stream
    arrivals are tie-INCLUSIVE: both same-u triggers see the pair (a
    position-based frame bound used to emit an empty join for the first
    one)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "wagg")
    for sql in [
        "SELECT window_end() AS we, count(*) AS c, max(size) AS ms "
        "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "WHERE size > 48 GROUP BY SLIDINGWINDOW(ss, 1)",
        # conjuncts on BOTH sides
        "SELECT window_end() AS we, count(*) AS c "
        "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "WHERE size > 48 AND hum > 60 GROUP BY SLIDINGWINDOW(ss, 1)",
        # right-side-only conjunct
        "SELECT window_end() AS we, count(*) AS c "
        "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "WHERE temp > 26 GROUP BY SLIDINGWINDOW(ss, 1)",
        # no WHERE: multiset parity pins the tie-inclusive frames
        "SELECT window_end() AS we, count(*) AS c, max(size) AS ms "
        "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1)",
    ]:
        cols = ["we", "c"] + (["ms"] if "ms" in sql else [])
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_where_aggregated_outer_and_mixed(spark, tmp_path):
    """r10: WHERE over aggregated OUTER/mixed sliding joins evaluates
    in-op on the JOINED rows (incl. null-extended ones) via a pdeval
    lane — FilterPlan above JoinPlan (planner.go:797), previously an
    honest raise."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "wout")
    for sql in [
        # OUTER kind + single-side conjunct: null-extended rows evaluate
        # the conjunct to null and drop
        "SELECT window_end() AS we, count(*) AS c FROM demo LEFT JOIN demo1 "
        "ON demo.ts = demo1.ts WHERE size > 48 GROUP BY SLIDINGWINDOW(ss, 1)",
        # MIXED-side conjunct on INNER
        "SELECT window_end() AS we, count(*) AS c FROM demo INNER JOIN demo1 "
        "ON demo.ts = demo1.ts WHERE size + hum > 110 GROUP BY SLIDINGWINDOW(ss, 1)",
        # FULL join + right-side conjunct
        "SELECT window_end() AS we, count(*) AS c FROM demo FULL JOIN demo1 "
        "ON demo.ts = demo1.ts WHERE hum > 60 GROUP BY SLIDINGWINDOW(ss, 1)",
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, ["we", "c"])
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_mixed_dims_and_inputs(spark, tmp_path):
    """r10: mixed-side GROUP BY dims and mixed-side aggregate inputs
    evaluate on the merged frame inside the stateful op (the reference
    valuer runs over JoinTuples, join_operator.go)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "mix")
    for sql, cols in [
        (
            # mixed-side dim: size + hum
            "SELECT size + hum AS sh, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1), size + hum",
            ["sh", "c"],
        ),
        (
            # mixed-side aggregate input
            "SELECT window_end() AS we, max(size + hum) AS msh, "
            "round(avg(size * temp), 4) AS ast FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "msh", "ast"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_non_equi_on(spark, tmp_path):
    """r10: non-equi ON over outer/aggregated sliding joins — candidate
    pairs form from the equi subset (or cross), the residual condition
    filters in-op, preserved sides null-extend (join_operator.go
    per-kind match loops)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "neo")
    for sql, cols in [
        (
            # aggregated INNER with equi + residual conjuncts
            "SELECT window_end() AS we, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts AND hum > size GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "c"],
        ),
        (
            # LEFT join with residual: unmatched lefts null-extend
            "SELECT window_end() AS we, count(*) AS c, count(hum) AS ch "
            "FROM demo LEFT JOIN demo1 "
            "ON demo.ts = demo1.ts AND hum > 62 GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "c", "ch"],
        ),
        (
            # pure non-equi (no equi subset) aggregated
            "SELECT window_end() AS we, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON size < hum GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "c"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_having_raw_content(spark, tmp_path):
    """r10: a raw column in HAVING over sliding-join CONTENT reads the
    collection's FIRST joined row (HavingOp GroupRange -> Content[0],
    having_operator.go:40-56) — the whole frame passes or drops."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "hrw")
    for sql, cols in [
        (
            "SELECT size, hum FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) HAVING size > 48",
            ["size", "hum"],
        ),
        (
            # raw ref + aggregate mixed in one HAVING
            "SELECT size, hum FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) HAVING size > 40 AND count(*) > 1",
            ["size", "hum"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_extended_aggs(spark, tmp_path):
    """r10: the sliding-join aggregate set beyond count/sum/avg/min/max/
    first — stddev/stddevs/var/vars/median/collect/last_value/
    percentile_cont/percentile_disc (funcs_agg.go)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "xag")
    for sql, cols in [
        (
            "SELECT window_end() AS we, round(stddev(size), 6) AS sd, "
            "round(var(hum), 6) AS vr, median(size) AS md "
            "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "sd", "vr", "md"],
        ),
        (
            "SELECT window_end() AS we, collect(size) AS cs, "
            "last_value(hum, true) AS lh, percentile_cont(size, 0.5) AS pc "
            "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["we", "cs", "lh", "pc"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_group_by_dims(spark, tmp_path):
    """GROUP BY dims over the joined sliding frames (window-then-join-
    then-aggregate): one row per (trigger, dim value), dims computed
    natively on their owning side; non-aggregated SELECTs project the
    group's first joined row; WHERE prunes pairs before grouping."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "dims")
    for sql, cols in [
        (
            "SELECT color, count(*) AS c, max(hum) AS mh FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1), color",
            ["color", "c", "mh"],
        ),
        (
            "SELECT color, temp FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1), color",
            ["color", "temp"],
        ),
        (
            "SELECT color, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts WHERE hum > 60 GROUP BY SLIDINGWINDOW(ss, 1), color",
            ["color", "c"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_arbitrary_exprs(spark, tmp_path):
    """r11: arbitrary SCALAR expressions reach streaming sliding-join
    WHERE/ON/dims through the single-side precompute fallback — every
    maximal subtree whose columns belong to one side materializes as a
    native Catalyst column upstream of the stateful op (the full
    oracle-pinned registry), leaving only mixed-side glue in-op
    (valuer.go:297-1283 evaluates the whole surface there).
    streaming == batch pins per cell."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "exl")
    for sql, cols in [
        (
            # non-subset scalar (concat) in an aggregated WHERE
            "SELECT count(*) AS c, sum(hum) AS sh FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts WHERE concat(color, 'x') = 'redx' "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c", "sh"],
        ),
        (
            # upper() in an OUTER-kind WHERE (in-op evaluation required)
            "SELECT count(*) AS c FROM demo LEFT JOIN demo1 ON demo.ts = demo1.ts "
            "WHERE upper(color) != 'BLUE' GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"],
        ),
        (
            # lower() inside an outer ON residual (pre-null-extension)
            "SELECT count(*) AS c FROM demo LEFT JOIN demo1 "
            "ON demo.ts = demo1.ts AND lower(color) = 'red' "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"],
        ),
        (
            # non-subset scalar as a GROUP BY dim
            "SELECT lpad(color, 6) AS k, count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1), lpad(color, 6)",
            ["k", "c"],
        ),
        (
            # abs() over a MIXED-side arithmetic stays in-op (pdeval glue)
            "SELECT count(*) AS c FROM demo LEFT JOIN demo1 ON demo.ts = demo1.ts "
            "WHERE abs(size - hum) < 15 GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"],
        ),
        (
            # null-safe single-side coalesce under INNER (no extension)
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "WHERE coalesce(hum, 0) > 60 GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_jsonpath_where(spark, tmp_path):
    """r11: jsonpath over a single-side column in a streaming sliding-
    join WHERE precomputes natively (the jsonpath engine is not in the
    pdeval subset); streaming == batch."""
    import uuid as _uuid
    import warnings

    base = str(tmp_path / "jpw")
    demo_rows = [
        ("red", 50, 1541152486013, '{"x": 1}'),
        ("blue", 58, 1541152486822, '{"x": 2}'),
        ("red", 49, 1541152487632, '{"x": 3}'),
        ("yellow", 51, 1541152488442, '{"x": 4}'),
        ("red", 48, 1541152489252, '{"x": 5}'),
    ]
    demo1_rows = [
        (25.5, 65, 1541152486013, 1541152486115),
        (27.5, 59, 1541152486823, 1541152486903),
        (28.1, 75, 1541152487632, 1541152487702),
        (27.4, 80, 1541152488442, 1541152488605),
        (25.5, 62, 1541152489252, 1541152489305),
    ]
    spark.createDataFrame(
        demo_rows, "color string, size long, ts long, props string"
    ).coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(
        demo1_rows, "temp double, hum long, ts long, mts long"
    ).coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("demo", spark.readStream.schema(
                "color string, size long, ts long, props string").parquet(base + "/a"))
            c.register_df("demo1", spark.readStream.schema(
                "temp double, hum long, ts long, mts long").parquet(base + "/b"))
        else:
            c.register_df("demo", spark.read.parquet(base + "/a"))
            c.register_df("demo1", spark.read.parquet(base + "/b"))
        c.register(StreamDef(name="demo", kind="stream"))
        c.register(StreamDef(name="demo1", kind="stream", timestamp_col="mts"))
        return c

    sql = (
        "SELECT count(*) AS c FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "WHERE json_path_query(props, '$.x') > 2 GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got, want = _stream_vs_batch(spark, sql, cats(True), cats(False), ["c"])
    assert got == want and len(want) > 0


def test_streaming_sliding_join_general_trigger_conditions(spark, tmp_path):
    """r11: OVER(WHEN <any boolean>) sliding-join triggers beyond the
    gap-throttle form — the reference's isMatchCondition evaluates the
    condition per raw arriving tuple with the OTHER stream's fields nil
    (-> false) (window_op.go:757-784; the parser accepts any boolean,
    parser_test.go:3322).  False rows stay frame MEMBERS but never fire
    triggers.  streaming == batch per cell; the gap-throttle form keeps
    working (TestEventWindowRule3)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "gtc")
    for sql, cols in [
        (
            # right-side condition: only demo1 arrivals with temp > 27 fire
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN temp > 27)",
            ["c"],
        ),
        (
            # left-side string condition
            "SELECT count(*) AS c, sum(hum) AS sh FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN color = 'red')",
            ["c", "sh"],
        ),
        (
            # disjunction across sides: each tuple sees only its own field
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN size > 50 OR temp > 27)",
            ["c"],
        ),
        (
            # content mode
            "SELECT color, temp FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN hum >= 75)",
            ["color", "temp"],
        ),
        (
            # the gap-throttle form still routes through the sequential gate
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN demo.ts - last_hit_time() > 1000)",
            ["c"],
        ),
        (
            # COMBINED form: per-tuple flag AND gap-throttle — lastHit
            # advances only on FULL hits, so flag-gating candidates
            # before the sequential gate is exact (K=500ms keeps frames
            # whose demo1 members — which ride mts, +~100ms — pair up)
            "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN size > 48 AND demo.ts - last_hit_time() > 500)",
            ["c"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_batch_sliding_join_pins_no_cached_relation(spark, tmp_path):
    """Compiling and running a batch sliding join leaves no persisted
    relation behind: a long-lived session would otherwise pin one more
    cached trigger relation per compile."""
    base = str(tmp_path / "pin")
    spark.createDataFrame(
        [("red", 50, 1541152486013), ("blue", 58, 1541152486822)],
        "color string, size long, ts long",
    ).coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(
        [(25.5, 65, 1541152486013), (27.5, 59, 1541152486823)],
        "temp double, hum long, ts long",
    ).coalesce(1).write.parquet(base + "/b")
    cat = Catalog()
    for nm, sub in (("demo", "/a"), ("demo1", "/b")):
        cat.register_df(nm, spark.read.parquet(base + sub))
        cat.register(StreamDef(name=nm, kind="stream"))
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    rows = compile_sql(
        spark,
        "SELECT count(*) AS c FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1)",
        cat,
        order_cols=["ts"],
    ).collect()
    assert sorted(r["c"] for r in rows) == [1, 1, 1, 1]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_batch_sliding_join_gap_throttle_duckdb(spark, tmp_path):
    """A gap-throttled batch sliding join with more than 16 trigger rows
    and equal timestamps across the streams: the throttle keeps one of
    the equal-timestamp triggers, and both membership joins must see the
    same one (a frame is otherwise lost under INNER or null-extended
    under LEFT).  Pinned against a DuckDB oracle over the kept trigger
    times."""
    import duckdb

    base = str(tmp_path / "gth")
    t0 = 1541152486000
    a_rows = [(i, t0 + 300 * i) for i in range(18)]
    b_rows = [(60 + i, t0 + 300 * i) for i in range(0, 18, 2)] + [
        (99, t0 + 300 * i + 150) for i in range(1, 18, 4)
    ]
    spark.createDataFrame(a_rows, "size long, ts long").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(b_rows, "hum long, ts long").coalesce(1).write.parquet(base + "/b")
    cat = Catalog()
    for nm, sub in (("demo", "/a"), ("demo1", "/b")):
        cat.register_df(nm, spark.read.parquet(base + sub))
        cat.register(StreamDef(name=nm, kind="stream"))

    # the sequential gap-throttle over the merged arrivals: a trigger
    # fires when its time exceeds the last fired one by more than 500 ms
    kept, last = [], 0
    for u in sorted(ts for _v, ts in a_rows + b_rows):
        if u - last > 500:
            kept.append(u)
            last = u
    con = duckdb.connect()
    for nm, sub in (("a", "/a"), ("b", "/b")):
        con.execute(
            f"CREATE VIEW {nm} AS SELECT * FROM read_parquet('{base}{sub}/*.parquet')"
        )
    con.execute("CREATE TABLE trig (tu BIGINT)")
    con.executemany("INSERT INTO trig VALUES (?)", [(u,) for u in kept])
    for kind in ("INNER", "LEFT"):
        sql = (
            "SELECT window_end() AS we, count(*) AS c, count(hum) AS ch "
            f"FROM demo {kind} JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 500)"
        )
        with pytest.warns(UserWarning):
            df = compile_sql(spark, sql, cat, order_cols=["ts"])
        got = sorted((r["we"], r["c"], r["ch"]) for r in df.collect())
        want = sorted(
            tuple(r) for r in con.execute(
                "SELECT trig.tu, count(*), count(b.hum) FROM trig "
                "JOIN a ON a.ts BETWEEN trig.tu - 1000 AND trig.tu "
                f"{kind} JOIN b ON b.ts = a.ts "
                "AND b.ts BETWEEN trig.tu - 1000 AND trig.tu "
                "GROUP BY trig.tu"
            ).fetchall()
        )
        assert got == want and len(want) > 5, kind


def test_sequential_throttle_tie_break_ignores_arrival_order(spark):
    """Among equal-timestamp triggers the gap-throttle keeps the lowest
    __ttid, whatever order the rows reach it in: both membership joins
    of a batch sliding join recompute the throttle and must keep the
    same trigger."""
    from ekuiper_spark.translator import Translator

    tr = Translator(spark, Catalog())
    rows = [(u, k) for u in range(0, 6000, 200) for k in (3, 2, 1)]
    got = {}
    for name, rs in (("asc", sorted(rows)), ("desc", rows)):
        df = spark.createDataFrame(rs, "__tu long, __ttid long").coalesce(1)
        with pytest.warns(UserWarning):
            out = tr._sequential_throttle(df, "__tu", 500, False)
        got[name] = sorted(tuple(r) for r in out.collect())
    assert got["asc"] == got["desc"]
    assert len(got["asc"]) > 5 and all(t == 1 for _u, t in got["asc"])


def test_batch_sliding_join_three_streams_duckdb(spark, tmp_path):
    """r11: 3-stream BATCH sliding-window joins chain left-deep like the
    reference's evalJoinSets (join_operator.go:282-398) — every arrival
    from ANY stream triggers, the frame gates all three memberships, and
    each step applies its own ON/kind.  Pinned against a DuckDB oracle
    built from the same trigger/membership formulation.  Streaming keeps
    the two-stream raise (one stateful op)."""
    import duckdb

    base = str(tmp_path / "tri")
    a_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252),
    ]
    b_rows = [
        (25.5, 65, 1541152486013), (27.5, 59, 1541152486823),
        (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
        (25.5, 62, 1541152489252),
    ]
    c_rows = [
        (1, 1541152486013), (2, 1541152487632), (3, 1541152488442),
        (4, 1541152489900),
    ]
    spark.createDataFrame(a_rows, "color string, size long, ts long").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(b_rows, "temp double, hum long, ts long").coalesce(1).write.parquet(base + "/b")
    spark.createDataFrame(c_rows, "flag long, ts long").coalesce(1).write.parquet(base + "/c")

    cat = Catalog()
    for nm, sub in (("demo", "/a"), ("demo1", "/b"), ("demo2", "/c")):
        cat.register_df(nm, spark.read.parquet(base + sub))
        cat.register(StreamDef(name=nm, kind="stream"))

    con = duckdb.connect()
    for nm, sub in (("a", "/a"), ("b", "/b"), ("c", "/c")):
        con.execute(
            f"CREATE VIEW {nm} AS SELECT * FROM read_parquet('{base}{sub}/*.parquet')"
        )
    # one trigger PER ARRIVAL: equal timestamps across streams stay
    # distinct triggers (each emits its own identical frame), so the
    # grouped oracles key on (tu, tid), not tu alone
    trig_cte = (
        "WITH trig AS (SELECT tu, row_number() OVER () AS tid FROM ("
        "SELECT ts AS tu FROM a UNION ALL "
        "SELECT ts FROM b UNION ALL SELECT ts FROM c)) "
    )

    # inner ⋈ inner chain, aggregated per trigger
    sql = (
        "SELECT count(*) AS c, sum(size) AS ss FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "INNER JOIN demo2 ON demo1.ts = demo2.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got = sorted(
        (r["c"], r["ss"])
        for r in compile_sql(spark, sql, cat, order_cols=["ts"]).collect()
    )
    want = sorted(
        tuple(r) for r in con.execute(
            trig_cte +
            "SELECT count(*) AS c, sum(a.size) AS ss FROM trig "
            "JOIN a ON a.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "JOIN b ON b.ts = a.ts AND b.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "JOIN c ON c.ts = b.ts AND c.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "GROUP BY trig.tu, trig.tid"
        ).fetchall()
    )
    assert got == want and len(want) > 0

    # inner ⋈ LEFT chain: unmatched (a⋈b) rows null-extend the c side
    sql2 = (
        "SELECT count(*) AS c, count(flag) AS cf FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "LEFT JOIN demo2 ON demo1.ts = demo2.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got2 = sorted(
        (r["c"], r["cf"])
        for r in compile_sql(spark, sql2, cat, order_cols=["ts"]).collect()
    )
    want2 = sorted(
        tuple(r) for r in con.execute(
            trig_cte +
            "SELECT count(*) AS c, count(c.flag) AS cf FROM trig "
            "JOIN a ON a.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "JOIN b ON b.ts = a.ts AND b.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "LEFT JOIN c ON c.ts = b.ts AND c.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "GROUP BY trig.tu, trig.tid"
        ).fetchall()
    )
    assert got2 == want2 and len(want2) > 0

    # content mode across three streams
    sql3 = (
        "SELECT color, hum, flag FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "INNER JOIN demo2 ON demo1.ts = demo2.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got3 = sorted(
        (r["color"], r["hum"], r["flag"])
        for r in compile_sql(spark, sql3, cat, order_cols=["ts"]).collect()
    )
    want3 = sorted(
        tuple(r) for r in con.execute(
            trig_cte +
            "SELECT a.color, b.hum, c.flag FROM trig "
            "JOIN a ON a.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "JOIN b ON b.ts = a.ts AND b.ts BETWEEN trig.tu - 1000 AND trig.tu "
            "JOIN c ON c.ts = b.ts AND c.ts BETWEEN trig.tu - 1000 AND trig.tu "
        ).fetchall()
    )
    assert got3 == want3 and len(want3) > 0

    # streaming (r11): 3+ streams run the N-side chain in ONE stateful
    # op (sliding_join_chain_stream) — streaming == batch on all three
    # statements above
    import uuid as _uuid
    import warnings

    scat = Catalog()
    for nm, sub, sch in (
        ("demo", "/a", "color string, size long, ts long"),
        ("demo1", "/b", "temp double, hum long, ts long"),
        ("demo2", "/c", "flag long, ts long"),
    ):
        scat.register_df(nm, spark.readStream.schema(sch).parquet(base + sub))
        scat.register(StreamDef(name=nm, kind="stream"))

    def _run_stream(sq, cols):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            sdf = compile_sql(spark, sq, scat, streaming=True, order_cols=["ts"])
            name = "tri_" + _uuid.uuid4().hex[:6]
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            return sorted(
                tuple(r[c] for c in cols)
                for r in spark.table(name).collect()
            )

    assert _run_stream(sql, ["c", "ss"]) == got
    assert _run_stream(sql2, ["c", "cf"]) == got2
    assert _run_stream(sql3, ["color", "hum", "flag"]) == got3


def test_streaming_sliding_join_three_stream_matrix(spark, tmp_path):
    """r11 follow-up: the 3+-stream streaming sliding-join chain carries
    the feature matrix — GROUP BY dims, single-side WHERE (keep flags),
    mixed-side WHERE (in-op lane), non-equi ON residual per chain step,
    HAVING, window delay — with streaming == batch parity per cell, and
    state carries across micro-batches (maxFilesPerTrigger=1).
    OVER(WHEN) triggers work on the chain — per-tuple flags with other
    streams' fields nil, the sequential gap-throttle, and the combined
    form (isMatchCondition) — as does the last_hit_count emission gate;
    last_hit_time over a joined collection errors like the reference
    (row.go:549-556).  The chain lane has full feature parity with the
    specialized two-stream op."""
    import glob
    import uuid as _uuid
    import warnings

    base = str(tmp_path / "tri3")
    a_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252),
    ]
    b_rows = [
        (25.5, 65, 1541152486013), (27.5, 59, 1541152486823),
        (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
        (25.5, 62, 1541152489252),
    ]
    c_rows = [
        (1, 1541152486013), (2, 1541152487632), (3, 1541152488442),
        (4, 1541152489900),
    ]
    # two files per stream so availableNow + maxFilesPerTrigger=1 spans
    # micro-batches; the split boundary is a TIMESTAMP shared by every
    # stream (arrival order must respect event order across streams —
    # same discipline as the time-contiguous splits in _stream_vs_batch)
    _CUT = 1541152488000
    for sub, rows, sch in (
        ("/a", a_rows, "color string, size long, ts long"),
        ("/b", b_rows, "temp double, hum long, ts long"),
        ("/c", c_rows, "flag long, ts long"),
    ):
        early = [r for r in rows if r[-1] < _CUT]
        late = [r for r in rows if r[-1] >= _CUT]
        spark.createDataFrame(early, sch).coalesce(1) \
            .write.mode("append").parquet(base + sub)
        spark.createDataFrame(late, sch).coalesce(1) \
            .write.mode("append").parquet(base + sub)
        assert len(glob.glob(base + sub + "/*.parquet")) >= 2

    defs = (
        ("demo", "/a", "color string, size long, ts long"),
        ("demo1", "/b", "temp double, hum long, ts long"),
        ("demo2", "/c", "flag long, ts long"),
    )
    bcat = Catalog()
    for nm, sub, _sch in defs:
        bcat.register_df(nm, spark.read.parquet(base + sub))
        bcat.register(StreamDef(name=nm, kind="stream"))

    def scat_for(split: bool) -> Catalog:
        sc = Catalog()
        for nm, sub, sch in defs:
            rd = spark.readStream.schema(sch)
            if split:
                rd = rd.option("maxFilesPerTrigger", 1)
            sc.register_df(nm, rd.parquet(base + sub))
            sc.register(StreamDef(name=nm, kind="stream"))
        return sc

    def run(sq, cols, split=False):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            sdf = compile_sql(
                spark, sq, scat_for(split), streaming=True, order_cols=["ts"]
            )
            name = "tm_" + _uuid.uuid4().hex[:6]
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            got = sorted(
                (tuple(r[c] for c in cols) for r in spark.table(name).collect()),
                key=repr,
            )
            bdf = compile_sql(spark, sq, bcat, order_cols=["ts"])
            want = sorted(
                (tuple(r[c] for c in cols) for r in bdf.collect()), key=repr
            )
        return got, want

    cells = [
        (   # GROUP BY dims over the joined chain
            "SELECT color, count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1), color",
            ["color", "c"], False,
        ),
        (   # single-side WHERE conjuncts -> per-side keep flags
            "SELECT count(*) AS c, sum(hum) AS sh FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "WHERE size > 48 AND flag < 4 GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c", "sh"], False,
        ),
        (   # mixed-side WHERE -> in-op lane over the joined chain
            "SELECT count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "WHERE size - hum < 0 GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"], False,
        ),
        (   # non-equi ON residual on the SECOND chain step
            "SELECT count(*) AS c, count(flag) AS cf FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "LEFT JOIN demo2 ON demo1.ts = demo2.ts AND demo2.flag > 1 "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c", "cf"], False,
        ),
        (   # HAVING gates trigger emissions
            "SELECT window_end(), count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) HAVING count(*) > 1",
            ["window_end", "c"], False,
        ),
        (   # cross-micro-batch state carry (one file per trigger)
            "SELECT count(*) AS c, sum(size) AS ss FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c", "ss"], True,
        ),
        (   # OVER(WHEN) per-tuple flag: other streams' fields nil
            "SELECT count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN size > 48)",
            ["c"], False,
        ),
        (   # OVER(WHEN) gap-throttle: sequential lastHit over the
            # merged trigger order
            "SELECT count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN demo.ts - last_hit_time() > 900)",
            ["c"], False,
        ),
        (   # combined flag AND gap form (lastHit advances on FULL hits)
            "SELECT count(*) AS c FROM demo "
            "INNER JOIN demo1 ON demo.ts = demo1.ts "
            "INNER JOIN demo2 ON demo1.ts = demo2.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1) "
            "OVER (WHEN flag > 1 AND demo.ts - last_hit_time() > 900)",
            ["c"], False,
        ),
    ]
    for sq, cols, split in cells:
        got, want = run(sq, cols, split)
        assert got == want and len(want) > 0, sq

    # window delay: frames reach forward; sentinels flush the tail
    dbase = str(tmp_path / "tri3d")
    spark.createDataFrame(
        a_rows + [("zz", 0, 1541152599000)], defs[0][2]
    ).coalesce(1).write.parquet(dbase + "/a")
    spark.createDataFrame(
        b_rows + [(0.0, 0, 1541152599001)], defs[1][2]
    ).coalesce(1).write.parquet(dbase + "/b")
    spark.createDataFrame(
        c_rows + [(0, 1541152599002)], defs[2][2]
    ).coalesce(1).write.parquet(dbase + "/c")
    dscat, dbcat = Catalog(), Catalog()
    for nm, sub, sch in defs:
        dscat.register_df(nm, spark.readStream.schema(sch).parquet(dbase + sub))
        dscat.register(StreamDef(name=nm, kind="stream"))
        dbcat.register_df(nm, spark.read.parquet(dbase + sub))
        dbcat.register(StreamDef(name=nm, kind="stream"))
    dsql = (
        "SELECT window_end(), count(*) AS c FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "INNER JOIN demo2 ON demo1.ts = demo2.ts "
        "GROUP BY SLIDINGWINDOW(ss, 1, 1)"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        sdf = compile_sql(spark, dsql, dscat, streaming=True, order_cols=["ts"])
        name = "tmd_" + _uuid.uuid4().hex[:6]
        q = (
            sdf.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted(
            tuple(r[c] for c in ["window_end", "c"])
            for r in spark.table(name).collect()
        )
        want = sorted(
            tuple(r[c] for c in ["window_end", "c"])
            for r in compile_sql(spark, dsql, dbcat, order_cols=["ts"]).collect()
        )
    assert got == want and len(want) > 0

    # FOUR streams: the chain is N-ary, not ternary — demo2 joins twice
    # under two aliases with separate ON steps
    sql4 = (
        "SELECT count(*) AS c, sum(d2b.flag) AS sf2 FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "INNER JOIN demo2 ON demo1.ts = demo2.ts "
        "LEFT JOIN demo2 AS d2b ON demo.ts = d2b.ts AND d2b.flag > 2 "
        "GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got4, want4 = run(sql4, ["c", "sf2"])
    assert got4 == want4 and len(want4) > 0, sql4

    # last_hit_count emission-sequence gate over the chain (in-op
    # counter, persisted; ticks per evaluated row pass or fail)
    hsql = (
        "SELECT color, hum, flag FROM demo "
        "INNER JOIN demo1 ON demo.ts = demo1.ts "
        "INNER JOIN demo2 ON demo1.ts = demo2.ts "
        "WHERE last_hit_count() < 3 GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    goth, wanth = run(hsql, ["color", "hum", "flag"])
    assert goth == wanth and len(wanth) > 0, hsql

    # last_hit_time over a JOINED collection errors like the reference
    # (JoinTuple rows carry no event_time FuncValue, row.go:549-556)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        with pytest.raises(ValueError, match="last_hit_time"):
            compile_sql(
                spark,
                "SELECT color, hum, flag FROM demo "
                "INNER JOIN demo1 ON demo.ts = demo1.ts "
                "INNER JOIN demo2 ON demo1.ts = demo2.ts "
                "WHERE demo.ts - last_hit_time() > 10 "
                "GROUP BY SLIDINGWINDOW(ss, 1)",
                scat_for(False), streaming=True, order_cols=["ts"],
            )


def test_streaming_sliding_join_cross_micro_batch_state(spark, tmp_path):
    """Regression (r11, found by the 3-stream chain's split pin): rows
    carried in join-buffer state across a micro-batch boundary lost
    every LONG column — Arrow hands nullable longs to pandas as float64
    and Spark's state serializer silently NULLS floats bound for an
    integral ArrayType field, so carried join keys vanished and frames
    spanning micro-batches under-joined.  _state_lists repairs the
    dtypes at save; this pin feeds one file per micro-batch so every
    cross-file pair exercises the round-trip."""
    import glob
    import uuid as _uuid
    import warnings

    base = str(tmp_path / "xmb")
    a_rows = [
        ("red", 50, 1541152486013), ("blue", 58, 1541152486822),
        ("red", 49, 1541152487632), ("yellow", 51, 1541152488442),
        ("red", 48, 1541152489252),
    ]
    b_rows = [
        (25.5, 65, 1541152486013), (27.5, 59, 1541152486823),
        (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
        (25.5, 62, 1541152489252),
    ]
    _CUT = 1541152488000
    for sub, rows, sch in (
        ("/a", a_rows, "color string, size long, ts long"),
        ("/b", b_rows, "temp double, hum long, ts long"),
    ):
        spark.createDataFrame([r for r in rows if r[-1] < _CUT], sch) \
            .coalesce(1).write.mode("append").parquet(base + sub)
        spark.createDataFrame([r for r in rows if r[-1] >= _CUT], sch) \
            .coalesce(1).write.mode("append").parquet(base + sub)
        assert len(glob.glob(base + sub + "/*.parquet")) >= 2

    defs = (
        ("demo", "/a", "color string, size long, ts long"),
        ("demo1", "/b", "temp double, hum long, ts long"),
    )
    bcat, scat = Catalog(), Catalog()
    for nm, sub, sch in defs:
        bcat.register_df(nm, spark.read.parquet(base + sub))
        bcat.register(StreamDef(name=nm, kind="stream"))
        scat.register_df(
            nm,
            spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(base + sub),
        )
        scat.register(StreamDef(name=nm, kind="stream"))

    for sql, cols in [
        (   # 2-stream sliding join: the 88442 trigger's frame spans the
            # file boundary (87632 rows carried, 88442 rows arriving)
            "SELECT window_end(), count(*) AS c, sum(size) AS ss "
            "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["window_end", "c", "ss"],
        ),
        (   # COUNT-window join: 6 rows arrive in micro-batch 1, so
            # window 2 (rows 5-8) holds 2 CARRIED + 2 arriving rows
            "SELECT count(*) AS c, sum(hum) AS sh "
            "FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY COUNTWINDOW(4)",
            ["c", "sh"],
        ),
    ]:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            sdf = compile_sql(spark, sql, scat, streaming=True, order_cols=["ts"])
            name = "xmb_" + _uuid.uuid4().hex[:6]
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()
            got = sorted(
                tuple(r[c] for c in cols) for r in spark.table(name).collect()
            )
            want = sorted(
                tuple(r[c] for c in cols)
                for r in compile_sql(spark, sql, bcat, order_cols=["ts"]).collect()
            )
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_null_tolerant_coalesce(spark, tmp_path):
    """coalesce/ifnull/nullif joined the pdeval subset (r11): the in-op
    lane evaluates them over the JOINED frame, so null-extended rows see
    coalesce(null, x) = x exactly like the reference — including the
    null-extendable side of outer joins (the case single-side
    precompute must refuse)."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "nco")
    for sql, cols in [
        (
            "SELECT count(*) AS c FROM demo LEFT JOIN demo1 "
            "ON demo.ts = demo1.ts WHERE coalesce(hum, 0) >= 0 "
            "GROUP BY SLIDINGWINDOW(ss, 1)",
            ["c"],
        ),
        (
            # mixed-side coalesce as a GROUP BY dim
            "SELECT coalesce(hum, size) AS k, count(*) AS c FROM demo "
            "LEFT JOIN demo1 ON demo.ts = demo1.ts "
            "GROUP BY SLIDINGWINDOW(ss, 1), coalesce(hum, size)",
            ["k", "c"],
        ),
    ]:
        got, want = _stream_vs_batch(spark, sql, scat, bcat, cols)
        assert got == want and len(want) > 0, sql


def test_streaming_sliding_join_null_sensitive_raise(spark, tmp_path):
    """A null-SENSITIVE single-side expression OUTSIDE the pdeval subset
    (md5 over a coalesce, on the null-extendable side of a FULL join)
    must NOT precompute — the column would be null on extended rows
    where the reference evaluates md5(coalesce(null,'x')) to a value.
    The site keeps an honest raise."""
    import warnings

    scat, _b = _feed_join_cats(spark, tmp_path, "nsr")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        with pytest.raises(NotImplementedError, match="in-op"):
            compile_sql(
                spark,
                "SELECT count(*) AS c FROM demo FULL JOIN demo1 "
                "ON demo.ts = demo1.ts "
                "WHERE md5(coalesce(color, 'x')) != 'q' "
                "GROUP BY SLIDINGWINDOW(ss, 1)",
                scat,
                streaming=True,
                order_cols=["ts"],
            )


def test_streaming_sliding_join_nondeterministic_no_precompute(spark, tmp_path):
    """Nondeterministic calls (rand/newuuid/now) must NOT hoist out of a
    streaming-join predicate as per-side precomputed columns: the
    reference's valuer draws a fresh value per JOINED row
    (valuer.go:297-1283 evaluates inside join_operator), so a hoisted
    column would fix ONE draw per source row and reuse it across every
    joined pair.  The site keeps the honest in-op raise instead of a
    silently-drifting plan."""
    import warnings

    scat, _b = _feed_join_cats(spark, tmp_path, "ndr")
    for pred in ["rand() < 2", "newuuid() != 'x'"]:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            with pytest.raises(NotImplementedError, match="in-op"):
                compile_sql(
                    spark,
                    "SELECT count(*) AS c FROM demo INNER JOIN demo1 "
                    "ON demo.ts = demo1.ts "
                    f"WHERE size > 0 AND {pred} "
                    "GROUP BY SLIDINGWINDOW(ss, 1)",
                    scat,
                    streaming=True,
                    order_cols=["ts"],
                )


def test_sparse_hopping_stream_stream_join(spark, tmp_path):
    """SPARSE hopping windows (interval > length) over a stream-stream
    join: members map 1:1 to their TUMBLING bucket on the HOP grid (a
    native struct Spark's watermark eviction understands); gap rows
    join nothing; displayed bounds shrink to [end - length, end)."""
    import datetime as dt

    base_t = dt.datetime(2024, 1, 1)
    l_rows = [(i, base_t + dt.timedelta(seconds=i), i % 3) for i in range(30)]
    r_rows = [(i + 100, base_t + dt.timedelta(seconds=i), i % 3) for i in range(30)]
    base = str(tmp_path / "sphop")
    spark.createDataFrame(l_rows, "aid long, ts timestamp, k long").coalesce(1).write.parquet(base + "/a")
    spark.createDataFrame(r_rows, "bid long, bts timestamp, bk long").coalesce(1).write.parquet(base + "/b")

    def cats(streaming):
        c = Catalog()
        if streaming:
            c.register_df("sa", spark.readStream.schema("aid long, ts timestamp, k long").parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.readStream.schema("bid long, bts timestamp, bk long").parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        else:
            c.register_df("sa", spark.read.parquet(base + "/a"))
            c.register(StreamDef(name="sa", kind="stream"))
            c.register_df("sb", spark.read.parquet(base + "/b"))
            c.register(StreamDef(name="sb", kind="stream", timestamp_col="bts"))
        return c

    from ekuiper_spark.streaming.runtime import run_rule_available_now

    # content: exact parity; only same-sparse-window same-k pairs emit
    sql_c = (
        "SELECT sa.aid AS aid, sb.bid AS bid FROM sa INNER JOIN sb "
        "ON sa.k = sb.bk GROUP BY HOPPINGWINDOW(ss, 2, 5)"
    )
    b = sorted(tuple(r) for r in compile_sql(spark, sql_c, cats(False)).collect())
    s = sorted(tuple(r) for r in run_rule_available_now(spark, cats(True), sql_c).collect())
    assert b == s and len(b) == 12
    # every batch pair sits in one sparse window [5k+3, 5k+5)
    # (seconds 3,4 mod 5) — gap rows joined nothing
    for aid, bid in b:
        assert aid % 5 in (3, 4)

    # aggregated: streaming (append + watermark) withholds at most the
    # trailing unfinalized window — the documented bounded-replay
    # divergence; everything emitted matches batch with SHRUNK bounds
    sql_a = (
        "SELECT window_start() AS ws, window_end() AS we, count(*) AS n "
        "FROM sa INNER JOIN sb ON sa.k = sb.bk GROUP BY HOPPINGWINDOW(ss, 2, 5)"
    )
    ba = sorted(tuple(r) for r in compile_sql(spark, sql_a, cats(False)).collect())
    sa_ = sorted(tuple(r) for r in run_rule_available_now(spark, cats(True), sql_a).collect())
    assert all(r in ba for r in sa_)
    assert len(ba) - len(sa_) <= 1
    for ws, we, _n in ba:
        assert (we - ws).total_seconds() == 2  # true sparse bounds


def test_streaming_sliding_join_last_hit_count(spark, tmp_path):
    """r10: last_hit_count() WHERE conjuncts over sliding-join CONTENT
    gate the emission sequence in-op (counter ticks per evaluated row,
    funcs_global_state.go IncrCounter); last_hit_time() over a JOINED
    collection is an ERROR in the reference itself (JoinTuple rows have
    no event_time FuncValue, row.go:549-556) — both modes raise it."""
    scat, bcat = _feed_join_cats(spark, tmp_path, "lhc")
    sql = (
        "SELECT size, hum FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
        "WHERE size > 40 AND last_hit_count() < 3 GROUP BY SLIDINGWINDOW(ss, 1)"
    )
    got, want = _stream_vs_batch(spark, sql, scat, bcat, ["size", "hum"])
    assert got == want and len(want) > 0
    for cat, streaming in ((bcat, False), (scat, True)):
        with pytest.raises(ValueError, match="cannot get current time"):
            compile_sql(
                spark,
                "SELECT size FROM demo INNER JOIN demo1 ON demo.ts = demo1.ts "
                "WHERE demo.ts - last_hit_time() > 1500 GROUP BY SLIDINGWINDOW(ss, 1)",
                cat,
                streaming=streaming,
                order_cols=["ts"],
            )

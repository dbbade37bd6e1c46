"""Crash-recovery fuzz across the custom stateful streaming operators.

The reference's checkpoint corpus (internal/topo/topotest/checkpoint_test.go)
kills a rule mid-stream and replays from the last checkpoint, asserting the
rule's total emissions equal an uninterrupted run (exactly-once).  Analog
here: each stateful kind runs twice over the same 4-file source —

- uninterrupted: all files visible, fresh checkpoint, availableNow;
- interrupted:  2 files -> run to completion -> 2 more files -> RESTART
  from the same checkpointLocation -> run again;

and the multiset of sink rows must be identical.  Every kind's window
boundary deliberately CROSSES the kill point (683 events split in 4), so
equality proves the applyInPandasWithState state (open windows, sliding
lookback tails, session accumulators, join buffers, dedup digests)
round-trips through the checkpoint.

Aggregates stick to count/min/max/integer sums: float accumulation order
differs between batch splits and would fuzz the equality.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from ekuiper_spark import Catalog, compile_sql


def _split_events(spark, catalog, tmp_path, n_files=4):
    """events ordered by (ts, event_id), split into n time-contiguous
    parquet files."""
    ev = catalog.load(spark, "events").orderBy("ts", "event_id")
    ids = [r["event_id"] for r in ev.select("event_id").collect()]
    per = (len(ids) + n_files - 1) // n_files
    files = []
    for i in range(n_files):
        chunk = ids[i * per : (i + 1) * per]
        part = tmp_path / f"part{i}"
        ev.filter(F.col("event_id").isin(chunk)).coalesce(1).write.parquet(
            str(part)
        )
        files.append(glob.glob(str(part / "*.parquet"))[0])
    return files


def _feed(files, sdir, start=0):
    os.makedirs(sdir, exist_ok=True)
    now = time.time()
    for i, f in enumerate(files):
        dst = os.path.join(sdir, f"{start + i:02d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (now - 600 + (start + i) * 10,) * 2)


def _run(spark, sdir, schema, sql, ckpt, out):
    """One availableNow pass of the compiled rule with a durable
    checkpoint and a parquet sink (the restartable shape)."""
    cat = Catalog()
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    cat.register_df("ev", sdf)
    df = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts", "event_id"])
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _rows(spark, out):
    df = spark.read.parquet(out)
    return sorted(tuple(r) for r in df.collect())


STATEFUL_SQLS = {
    "count_window": (
        "SELECT count(*) AS n, min(event_id) AS a, max(event_id) AS b, "
        "sum(user_id) AS su FROM ev GROUP BY COUNTWINDOW(100)"
    ),
    "state_window": (
        "SELECT user_id, count(*) AS n, min(ts) AS o, max(ts) AS c "
        "FROM ev GROUP BY STATEWINDOW(event_type = 'signup', "
        "event_type = 'purchase', user_id)"
    ),
    "sliding_window": (
        "SELECT event_id, count(*) AS n, sum(user_id) AS su "
        "FROM ev GROUP BY SLIDINGWINDOW(mi, 60)"
    ),
    "capped_session": (
        "SELECT count(*) AS n, min(event_id) AS a, max(event_id) AS b "
        "FROM ev GROUP BY SESSIONWINDOW(mi, 120, 30)"
    ),
    # begin/reset acc fused INTO the count-window stateful op (one
    # applyInPandasWithState per query): the JSON an_state field must
    # survive the restart mid-segment
    "fused_acc_count_window": (
        "SELECT max(acc_sum(user_id, event_type = 'signup', "
        "event_type = 'purchase')) AS a, count(*) AS n "
        "FROM ev GROUP BY COUNTWINDOW(100)"
    ),
    # continuous analytic state (streaming/analytics.py): lag rings,
    # changed/latest values and acc counters must survive the restart
    "analytic_funcs": (
        "SELECT event_id, lag(event_id) OVER (PARTITION BY user_id) AS l, "
        "changed_col(true, event_type) OVER (PARTITION BY user_id) AS cc, "
        "acc_count(event_id) OVER (PARTITION BY user_id) AS n FROM ev "
        "WHERE user_id < 20"
    ),
}


@pytest.mark.parametrize("kind", sorted(STATEFUL_SQLS))
def test_stateful_checkpoint_recovery(spark, catalog, tmp_path, kind):
    sql = STATEFUL_SQLS[kind]
    files = _split_events(spark, catalog, tmp_path)
    schema = spark.read.parquet(files[0]).schema

    s_all = str(tmp_path / "src_all")
    _feed(files, s_all)
    out_a = str(tmp_path / "outA")
    _run(spark, s_all, schema, sql, str(tmp_path / "ckA"), out_a)

    s_half = str(tmp_path / "src_half")
    _feed(files[:2], s_half)
    out_b = str(tmp_path / "outB")
    ck_b = str(tmp_path / "ckB")
    _run(spark, s_half, schema, sql, ck_b, out_b)  # "crash" after 2 batches
    _feed(files[2:], s_half, start=2)  # data arrives while down
    _run(spark, s_half, schema, sql, ck_b, out_b)  # restart, same ckpt

    a, b = _rows(spark, out_a), _rows(spark, out_b)
    assert len(a) > 0
    assert a == b, (
        f"{kind}: uninterrupted={len(a)} rows, "
        f"interrupted={len(b)} rows; first diff: "
        f"{next((x for x in a if x not in b), None)} / "
        f"{next((x for x in b if x not in a), None)}"
    )


def test_sliding_join_checkpoint_recovery(spark, tmp_path):
    """The per-event sliding stream-stream join's lookback buffers (both
    streams) must survive a restart: a pair whose halves arrive on
    opposite sides of the kill still joins."""
    demo_batches = [
        [("red", 3, 1541152486013), ("blue", 6, 1541152486822)],
        [("blue", 2, 1541152487632), ("yellow", 4, 1541152488442),
         ("red", 1, 1541152489252)],
    ]
    demo1_batches = [
        [(25.5, 65, 1541152486013, 1541152486115),
         (27.5, 59, 1541152486823, 1541152486903)],
        [(28.1, 75, 1541152487632, 1541152487702),
         (27.4, 80, 1541152488442, 1541152488605),
         (25.5, 62, 1541152489252, 1541152489305)],
    ]

    def write_batch(rows, schema, dest, name):
        tmp = tmp_path / f"w_{uuid.uuid4().hex[:6]}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        os.makedirs(dest, exist_ok=True)
        dst = os.path.join(dest, name)
        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], dst)
        os.utime(dst, (time.time() - 600,) * 2)

    def run(tag, ckpt, out, d_batches, d1_batches):
        ddir = str(tmp_path / f"d_{tag}")
        d1dir = str(tmp_path / f"d1_{tag}")
        for i, rows in enumerate(d_batches):
            if rows:
                write_batch(rows, "color string, size long, ts long", ddir, f"{i}.parquet")
        for i, rows in enumerate(d1_batches):
            if rows:
                write_batch(rows, "temp double, hum long, ts long, mts long", d1dir, f"{i}.parquet")
        cat = Catalog()
        cat.register_df(
            "demo",
            spark.readStream.schema("color string, size long, ts long")
            .option("maxFilesPerTrigger", 1).parquet(ddir),
        )
        cat.register_df(
            "demo1",
            spark.readStream.schema("temp double, hum long, ts long, mts long")
            .option("maxFilesPerTrigger", 1).parquet(d1dir),
        )
        df = compile_sql(
            spark,
            "SELECT window_end(), event_time(), count(color) AS c, "
            "min(size) AS ms, window_start() FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SlidingWindow(ss, 1)",
            cat,
            streaming=True,
            order_cols=["ts"],
        )
        q = (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    out_a = str(tmp_path / "joutA")
    run("all", str(tmp_path / "jckA"), out_a, demo_batches, demo1_batches)

    out_b = str(tmp_path / "joutB")
    ck_b = str(tmp_path / "jckB")
    run("half", ck_b, out_b, demo_batches[:1], demo1_batches[:1])
    run("half", ck_b, out_b, [[], *demo_batches[1:]], [[], *demo1_batches[1:]])

    a, b = _rows(spark, out_a), _rows(spark, out_b)
    assert len(a) > 0
    assert a == b, f"join recovery drift: {len(a)} vs {len(b)} rows"


def test_sliding_join_refuses_foreign_side_tags(spark, tmp_path):
    """A sliding-join checkpoint whose buffered rows carry side tags the
    op does not own is refused on restart, not misread.  Two-stream
    joins once tagged their sides L/R; Spark's state-schema check
    ignores field names, so such a checkpoint loads, and its rows would
    silently drop out of every S0/S1 frame for one window length."""
    from pyspark.errors import StreamingQueryException

    from ekuiper_spark.streaming.joinstate import sliding_join_chain_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")

    def feed(i, rows):
        tmp = tmp_path / f"w{i}"
        spark.createDataFrame(rows, "k long, u long").coalesce(1).write.parquet(str(tmp))
        os.makedirs(src, exist_ok=True)
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], dst)
        os.utime(dst, (time.time() - 600 + i,) * 2)

    def run(tags):
        # even k on the first side, odd k on the second; the sides join
        # on k // 2
        s = spark.readStream.schema("k long, u long").parquet(src)
        first = F.col("k") % 2 == 0
        union = s.select(
            F.when(first, F.lit(tags[0])).otherwise(F.lit(tags[1])).alias("__src"),
            F.col("u").alias("__u"),
            F.when(first, F.col("k") / 2).cast("long").alias("a"),
            F.when(~first, (F.col("k") - 1) / 2).cast("long").alias("b"),
        )
        out = sliding_join_chain_stream(
            union, length=10_000_000,
            sides=[(tags[0], ["a"]), (tags[1], ["b"])],
            joins=[{"how": "inner", "lkeys": ["a"], "rkeys": ["b"]}],
        )
        q = (
            out.writeStream.format("parquet").option("path", str(tmp_path / "out"))
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    feed(0, [(0, 1_000_000), (1, 2_000_000)])
    run(("L", "R"))
    feed(1, [(2, 3_000_000), (3, 4_000_000)])
    with pytest.raises(StreamingQueryException, match="predates the S0..Sn side layout"):
        run(("S0", "S1"))


def test_streaming_dedup_checkpoint_recovery(spark, tmp_path):
    """dropDuplicatesWithinWatermark digests survive the restart: a
    duplicate of a pre-crash document arriving after recovery is still
    dropped."""
    import datetime as dt

    from ekuiper_spark.datapipe.dedup import streaming_exact_dedup

    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(1, "the quick brown fox", t0),
         (2, "a different document", t0 + dt.timedelta(seconds=1))],
        [(3, "The  quick   brown fox.", t0 + dt.timedelta(seconds=2)),
         (4, "fresh content here", t0 + dt.timedelta(seconds=3))],
    ]
    schema = "doc_id long, text string, ts timestamp"

    def run(src, ckpt, out):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            streaming_exact_dedup(sdf, text_col="text", time_col="ts")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def feed(src, rows, name):
        tmp = tmp_path / f"t_{uuid.uuid4().hex[:6]}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        os.makedirs(src, exist_ok=True)
        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], os.path.join(src, name))

    s_all = str(tmp_path / "dsrcA")
    for i, rows in enumerate(batches):
        feed(s_all, rows, f"{i}.parquet")
    out_a = str(tmp_path / "doutA")
    run(s_all, str(tmp_path / "dckA"), out_a)

    s_half = str(tmp_path / "dsrcB")
    feed(s_half, batches[0], "0.parquet")
    out_b = str(tmp_path / "doutB")
    ck_b = str(tmp_path / "dckB")
    run(s_half, ck_b, out_b)
    feed(s_half, batches[1], "1.parquet")  # dup of doc 1 arrives post-crash
    run(s_half, ck_b, out_b)

    a = {r["doc_id"] for r in spark.read.parquet(out_a).collect()}
    b = {r["doc_id"] for r in spark.read.parquet(out_b).collect()}
    assert a == b
    assert 3 not in b and {1, 2, 4} <= b  # the cross-crash dup stayed dropped


def test_stream_table_join_checkpoint_recovery(spark, catalog, tmp_path):
    """TestTableJoinCheckpoint (checkpoint_test.go:106) analog: a
    stream/static-table join restarted from checkpoint emits each joined
    row exactly once — rows arriving after the restart still join
    against the reloaded table."""
    files = _split_events(spark, catalog, tmp_path)
    schema = spark.read.parquet(files[0]).schema
    sql = (
        "SELECT e.event_id, e.user_id, n.n_name FROM ev e "
        "INNER JOIN nation n ON e.user_id % 25 = n.n_nationkey"
    )

    def run(sdir, ckpt, out):
        cat = Catalog.from_dir("/root/testdata/sf0.001")
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(sdir)
        )
        cat.register_df("ev", sdf)
        df = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts", "event_id"])
        q = (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    s_all = str(tmp_path / "jt_all")
    _feed(files, s_all)
    out_a = str(tmp_path / "jt_outA")
    run(s_all, str(tmp_path / "jt_ckA"), out_a)

    s_half = str(tmp_path / "jt_half")
    _feed(files[:2], s_half)
    out_b = str(tmp_path / "jt_outB")
    ck_b = str(tmp_path / "jt_ckB")
    run(s_half, ck_b, out_b)
    _feed(files[2:], s_half, start=2)
    run(s_half, ck_b, out_b)

    a, b = _rows(spark, out_a), _rows(spark, out_b)
    assert len(a) > 0 and a == b


def test_sliding_join_delay_checkpoint_recovery(spark, tmp_path):
    """Delayed sliding join: PENDING triggers (waiting for their forward
    bound) must survive a restart — a trigger arrives before the kill,
    its covering row after."""
    demo_batches = [
        [("red", 3, 1541152486013), ("blue", 6, 1541152486822)],
        [("blue", 2, 1541152487632), ("yellow", 4, 1541152488442),
         ("red", 1, 1541152489252), ("zz", 0, 1541152599000)],
    ]
    demo1_batches = [
        [(25.5, 65, 1541152486013, 1541152486115),
         (27.5, 59, 1541152486823, 1541152486903)],
        [(28.1, 75, 1541152487632, 1541152487702),
         (27.4, 80, 1541152488442, 1541152488605),
         (25.5, 62, 1541152489252, 1541152489305),
         (0.0, 0, 1541152599001, 1541152599001)],
    ]

    def write_batch(rows, schema, dest, name):
        tmp = tmp_path / f"w_{uuid.uuid4().hex[:6]}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        os.makedirs(dest, exist_ok=True)
        dst = os.path.join(dest, name)
        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], dst)
        os.utime(dst, (time.time() - 600,) * 2)

    def run(tag, ckpt, out, d_batches, d1_batches):
        ddir = str(tmp_path / f"dd_{tag}")
        d1dir = str(tmp_path / f"dd1_{tag}")
        for i, rows in enumerate(d_batches):
            if rows:
                write_batch(rows, "color string, size long, ts long", ddir, f"{i}.parquet")
        for i, rows in enumerate(d1_batches):
            if rows:
                write_batch(rows, "temp double, hum long, ts long, mts long", d1dir, f"{i}.parquet")
        cat = Catalog()
        cat.register_df(
            "demo",
            spark.readStream.schema("color string, size long, ts long")
            .option("maxFilesPerTrigger", 1).parquet(ddir),
        )
        cat.register_df(
            "demo1",
            spark.readStream.schema("temp double, hum long, ts long, mts long")
            .option("maxFilesPerTrigger", 1).parquet(d1dir),
        )
        df = compile_sql(
            spark,
            "SELECT window_end(), count(color) AS c, min(size) AS ms "
            "FROM demo INNER JOIN demo1 "
            "ON demo.ts = demo1.ts GROUP BY SlidingWindow(ss, 1, 1)",
            cat,
            streaming=True,
            order_cols=["ts"],
        )
        q = (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    out_a = str(tmp_path / "djoutA")
    run("all", str(tmp_path / "djckA"), out_a, demo_batches, demo1_batches)

    out_b = str(tmp_path / "djoutB")
    ck_b = str(tmp_path / "djckB")
    run("half", ck_b, out_b, demo_batches[:1], demo1_batches[:1])
    run("half", ck_b, out_b, [[], *demo_batches[1:]], [[], *demo1_batches[1:]])

    a, b = _rows(spark, out_a), _rows(spark, out_b)
    assert len(a) > 0
    assert a == b, f"delayed join recovery drift: {len(a)} vs {len(b)} rows"

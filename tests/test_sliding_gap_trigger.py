"""Non-join sliding OVER(WHEN ... last_hit_time ...) triggers — r11.

The reference evaluates the trigger condition per arriving tuple with a
rule-global lastHit that advances on hits (isMatchCondition,
window_op.go:757-784; funcs_global_state.go).  Before this round only
the batch CONTENT/dims path was exact (sequential throttle); the batch
aggregate path mis-evaluated via a per-row lag approximation and
STREAMING crashed outright (lag window function on a streaming frame).
Now every sliding shape routes gap conjuncts through a stateful lastHit
gate — batch: flag filter + sequential scan; streaming: lastHit lives
in the stateful op's state (gap_throttle) and the decision rides the
__trig passthrough.  Combined `flag AND gap` forms decompose exactly
(lastHit advances only on FULL hits).

Pins: streaming == batch on aggregate / content / dims / combined
shapes over an epoch-ms event column; non-ms event columns raise
actionably (the reference's native hit times are epoch millis).
"""

from __future__ import annotations

import uuid
import warnings

import pytest

from ekuiper_spark import Catalog, compile_sql
from ekuiper_spark.catalog import StreamDef
from ekuiper_spark.streaming.runtime import run_rule_available_now

ROWS = [
    (25.5, 65, 1541152486013), (27.5, 59, 1541152486822),
    (28.1, 75, 1541152487632), (27.4, 80, 1541152488442),
    (25.5, 62, 1541152489252),
]


@pytest.fixture(scope="module")
def gap_src(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("gaptrig"))
    spark.createDataFrame(ROWS, "temp double, hum long, ts long") \
        .coalesce(1).write.parquet(base + "/d")
    return base


def _cats(spark, base, streaming):
    c = Catalog()
    if streaming:
        c.register_df(
            "demo",
            spark.readStream.schema("temp double, hum long, ts long")
            .parquet(base + "/d"),
        )
    else:
        c.register_df("demo", spark.read.parquet(base + "/d"))
    c.register(StreamDef(name="demo", kind="stream"))
    return c


@pytest.mark.parametrize(
    "sql",
    [
        # pure gap, aggregated (formerly the broken lag approximation)
        "SELECT count(*) AS c FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 1000)",
        # pure gap, content emission (the already-exact membership path)
        "SELECT temp, hum FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 1000)",
        # combined flag AND gap
        "SELECT count(*) AS c FROM demo GROUP BY SLIDINGWINDOW(ss, 1) "
        "OVER (WHEN hum > 60 AND ts - last_hit_time() > 1000)",
        # gap + GROUP BY dims (sub-grouped frames)
        "SELECT temp, count(*) AS c FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 800), temp",
    ],
)
def test_sliding_gap_trigger_stream_batch_parity(spark, gap_src, sql):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        b = sorted(
            tuple(r)
            for r in compile_sql(
                spark, sql, _cats(spark, gap_src, False), order_cols=["ts"]
            ).collect()
        )
        s = sorted(
            tuple(r)
            for r in run_rule_available_now(
                spark, _cats(spark, gap_src, True), sql, order_cols=["ts"]
            ).collect()
        )
    assert b == s and len(b) > 0, (sql, b, s)


def test_sliding_gap_trigger_state_carries_across_batches(spark, gap_src):
    """lastHit must persist in op state: feed the same rows one file per
    micro-batch and the hit sequence must match the single-batch run."""
    import glob
    import os
    import shutil
    import time as _time

    sdir = gap_src + "/split"
    if not os.path.exists(sdir):
        os.makedirs(sdir)
        now = _time.time()
        for i, r in enumerate(ROWS):
            part = gap_src + f"/p{i}"
            spark.createDataFrame([r], "temp double, hum long, ts long") \
                .coalesce(1).write.parquet(part)
            src = glob.glob(part + "/*.parquet")[0]
            dst = os.path.join(sdir, f"{i:02d}.parquet")
            shutil.move(src, dst)
            os.utime(dst, (now - 600 + i,) * 2)
    cat = Catalog()
    cat.register_df(
        "demo",
        spark.readStream.schema("temp double, hum long, ts long")
        .option("maxFilesPerTrigger", 1).parquet(sdir),
    )
    cat.register(StreamDef(name="demo", kind="stream"))
    sql = (
        "SELECT count(*) AS c FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN ts - last_hit_time() > 1000)"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts"])
        name = "gapst_" + uuid.uuid4().hex[:6]
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted(tuple(r) for r in spark.table(name).collect())
        want = sorted(
            tuple(r)
            for r in compile_sql(
                spark, sql, _cats(spark, gap_src, False), order_cols=["ts"]
            ).collect()
        )
    assert got == want and len(want) > 0


def test_sliding_gap_trigger_timestamp_col_raises(spark, catalog):
    """Gap triggers need the epoch-ms event column (the reference's
    native hit-time representation); TIMESTAMP columns raise actionably
    instead of the former analyzer crash."""
    with pytest.raises(NotImplementedError, match="epoch-ms"):
        compile_sql(
            spark,
            "SELECT count(*) AS c FROM events "
            "GROUP BY SLIDINGWINDOW(mi, 30) "
            "OVER (WHEN ts - last_hit_time() > 60000)",
            catalog,
            order_cols=["ts", "event_id"],
        )


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT count(*) AS c, max(temp) AS m FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) HAVING count(*) > 1",
        "SELECT temp, count(*) AS c FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 4), temp HAVING count(*) > 1",
        "SELECT count(*) AS c FROM demo "
        "GROUP BY SLIDINGWINDOW(ss, 1) OVER (WHEN hum > 60) HAVING count(*) > 1",
    ],
)
def test_sliding_having_stream_batch_parity(spark, gap_src, sql):
    """HAVING over a streaming sliding window gates each trigger's
    emission on its frame aggregates, as the batch range-frame and
    sub-grouped paths do."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        b = sorted(
            tuple(r)
            for r in compile_sql(
                spark, sql, _cats(spark, gap_src, False), order_cols=["ts"]
            ).collect()
        )
        s = sorted(
            tuple(r)
            for r in run_rule_available_now(
                spark, _cats(spark, gap_src, True), sql, order_cols=["ts"]
            ).collect()
        )
    assert b == s and len(b) > 0, (sql, b, s)

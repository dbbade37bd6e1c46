"""Regression: event-time parquet physical-type robustness.

The driver's fixtures have shipped event time three ways across rounds:
TIMESTAMP(NANOS), TIMESTAMP(MICROS, isAdjustedToUTC=true), and
TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
TIMESTAMP_NTZ).  Round 3 broke because ``unix_micros`` rejects NTZ.  These
tests write each variant locally and run the engine paths that order on
event time — so a future fixture regeneration can't silently break them
again.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ekuiper_spark import Catalog


def _write_events(path: str, ts_type: pa.DataType) -> None:
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    ts = [base + dt.timedelta(seconds=30 * i) for i in range(40)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(40), pa.int64()),
            "ts": pa.array(ts, ts_type),
            "user_id": pa.array([i % 4 for i in range(40)], pa.int64()),
            "value": pa.array([float(i) for i in range(40)], pa.float64()),
        }
    )
    pq.write_table(tbl, path)


VARIANTS = {
    "ntz_micros": pa.timestamp("us"),  # isAdjustedToUTC=false -> TIMESTAMP_NTZ
    "utc_micros": pa.timestamp("us", tz="UTC"),  # -> TIMESTAMP
    "ntz_nanos": pa.timestamp("ns"),  # -> nanosAsLong path
}


@pytest.fixture(scope="module", params=sorted(VARIANTS))
def ntz_catalog(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"fx_{request.param}")
    _write_events(os.path.join(d, "events.parquet"), VARIANTS[request.param])
    return Catalog.from_dir(str(d))


def test_catalog_normalizes_to_timestamp(spark, ntz_catalog):
    df = ntz_catalog.load(spark, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    first = df.orderBy("event_id").first()
    assert first["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0)


def test_sliding_window_on_any_ts_type(spark, ntz_catalog):
    from ekuiper_spark.translator import compile_sql

    out = compile_sql(
        spark,
        "SELECT event_id, count(*) AS c FROM events GROUP BY SLIDINGWINDOW(ss, 60)",
        ntz_catalog,
    )
    rows = sorted((r["event_id"], r["c"]) for r in out.collect())
    # 60s frame [t-60, t] left-INCLUSIVE (handleInputs keeps ts >= left,
    # window_op.go:641-647; TestSlidingWindowInterval12), events every
    # 30s: the first frame has 1 row, the second 2, every later one
    # exactly 3 (the t-60 event is included).  event_id is the FIRST
    # frame row's id (reference project-over-grouped), so frame k>=2
    # reports id k-2.
    assert rows[0] == (0, 1) and rows[1] == (0, 2) and rows[2] == (0, 3)
    assert rows[-1] == (37, 3)


def test_rate_limit_on_any_ts_type(spark, ntz_catalog):
    from ekuiper_spark.operators.ratelimit import rate_limit_latest

    ev = ntz_catalog.load(spark, "events")
    out = rate_limit_latest(ev, 600.0)  # 10-min buckets over 20 min of data
    assert out.count() == 2
    assert {r["event_id"] for r in out.collect()} == {19, 39}


def test_epoch_us_accepts_ntz_directly(spark):
    # direct DataFrames (not via catalog) may still carry NTZ
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 0, 0, 0, 123456),)], "ts timestamp_ntz"
    )
    from ekuiper_spark.timeutil import epoch_us

    us = df.select(epoch_us(F.col("ts")).alias("us")).first()["us"]
    assert us == 1704067200123456
    # microsecond() builtin routes through the same helper
    from ekuiper_spark.functions.scalar import REGISTRY

    micro = df.select(REGISTRY["microsecond"]([F.col("ts")], [None]).alias("m"))
    assert micro.first()["m"] == 123456


def test_reregistered_rewritten_path_reprobes_nanos(spark, tmp_path):
    # the TIMESTAMP(NANOS) column probe belongs to the catalog's per-path
    # cache: re-registering a rewritten file must not reuse the old answer
    from ekuiper_spark.catalog import StreamDef

    path = str(tmp_path / "events.parquet")
    _write_events(path, VARIANTS["utc_micros"])
    cat = Catalog()
    cat.register(StreamDef(name="events", format="parquet", path=path, kind="scan"))
    assert isinstance(cat.load(spark, "events").schema["ts"].dataType, T.TimestampType)
    _write_events(path, VARIANTS["ntz_nanos"])
    cat.register(StreamDef(name="events", format="parquet", path=path, kind="scan"))
    df = cat.load(spark, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.orderBy("event_id").first()["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0)

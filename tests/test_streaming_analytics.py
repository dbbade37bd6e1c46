"""Continuous analytic functions in streaming mode.

The reference runs lag/latest/changed_col/had_changed/changed_cols and
acc_* continuously against rule state (analyticfuncs_operator.go).  The
translator routes them through one applyInPandasWithState operator
(streaming/analytics.py); these tests pin (a) value equality with the
batch translation of the same statement, (b) state carry ACROSS
micro-batches (maxFilesPerTrigger=1), (c) keyed distribution via the
OVER partition, and (d) the WHEN gate semantics in streaming.
"""

from __future__ import annotations

import json
import warnings

import pytest
from pyspark.sql import types as T

from ekuiper_spark.catalog import Catalog, StreamDef
from ekuiper_spark.translator import compile_sql

SCHEMA = T.StructType(
    [
        T.StructField("v", T.StringType()),
        T.StructField("c", T.BooleanType()),
        T.StructField("u", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("ts", T.LongType()),
    ]
)

ROWS = [
    ("foo", True, 1, 10, 1000),
    ("bar", False, 2, 20, 1001),
    ("bar", True, 1, None, 1002),
    ("foo", False, 2, 40, 1003),
    ("foo", True, 1, 50, 1004),
    (None, True, 2, 60, 1005),
    ("baz", True, 1, 70, 1006),
    ("baz", True, 2, 80, 1007),
]

SQL = (
    "SELECT ts, lag(v) OVER (WHEN c) AS l, lag(x, 2) AS l2, "
    "latest(v) AS lt, changed_col(true, v) AS cc, "
    "had_changed(true, v, u) AS hc, acc_sum(u) AS s, "
    "acc_count(u, c, u > 1) AS cnt FROM strm"
)


def _write_files(tmp_path, n_files):
    d = tmp_path / "src"
    d.mkdir()
    per = len(ROWS) // n_files
    for i in range(n_files):
        chunk = ROWS[i * per : (i + 1) * per] if i < n_files - 1 else ROWS[(n_files - 1) * per :]
        with open(d / f"{i:02d}.json", "w") as f:
            for v, c, u, x, ts in chunk:
                f.write(json.dumps({"v": v, "c": c, "u": u, "x": x, "ts": ts}) + "\n")
    return str(d)


def _run_streaming(spark, path, tmp_path, one_file_per_trigger):
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = compile_sql(spark, SQL, cat, streaming=True, order_cols=["ts"])
    name = f"sanl_{abs(hash((path, one_file_per_trigger))) % 10**8}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return [tuple(r) for r in spark.sql(f"select * from {name} order by ts").collect()]


def _run_batch(spark, path):
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    df = compile_sql(spark, SQL, cat, order_cols=["ts"])
    return [tuple(r) for r in df.orderBy("ts").collect()]


def test_streaming_analytics_equal_batch(spark, tmp_path):
    path = _write_files(tmp_path, 1)
    got = _run_streaming(spark, path, tmp_path, one_file_per_trigger=False)
    want = _run_batch(spark, path)
    assert got == want
    # spot-pin a few reference behaviors inside the sequence:
    by_ts = {r[0]: r for r in got}
    assert by_ts[1001][1] == "foo"      # WHEN-false row reads lag state
    assert by_ts[1002][4] is None       # changed_col unchanged -> nil
    assert by_ts[1005][3] == "foo"      # latest skips the nil v
    assert by_ts[1002][2] == 10         # lag(x,2): second-last prior x
    assert by_ts[1004][2] == 20         # nulls skipped by default ignoreNull


def test_streaming_analytics_state_across_batches(spark, tmp_path):
    """4 files, one per trigger: ring buffers / changed state / acc
    totals must carry across micro-batches through the state store."""
    path = _write_files(tmp_path, 4)
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = compile_sql(spark, SQL, cat, streaming=True, order_cols=["ts"])
    q = (
        df.writeStream.format("memory")
        .queryName("sanl_multi")
        .option("checkpointLocation", str(tmp_path / "ck_multi"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow + maxFilesPerTrigger processes files in separate
    # micro-batches within one run
    q.awaitTermination(180)
    got = [tuple(r) for r in spark.sql("select * from sanl_multi order by ts").collect()]
    assert got == _run_batch(spark, path)


def test_streaming_analytics_keyed_partition(spark, tmp_path):
    """OVER (PARTITION BY u) keys the state: per-key sequences match the
    batch translation and no global-order warning fires."""
    path = _write_files(tmp_path, 1)
    sql = "SELECT ts, u, lag(v) OVER (PARTITION BY u) AS l, acc_sum(u) OVER (PARTITION BY u) AS s FROM strm"
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # keyed: no global-order warning
        df = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts"])
    q = (
        df.writeStream.format("memory")
        .queryName("sanl_keyed")
        .option("checkpointLocation", str(tmp_path / "ck_keyed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [tuple(r) for r in spark.sql("select * from sanl_keyed order by ts").collect()]
    bdf = compile_sql(spark, sql, cat, order_cols=["ts"])
    want = [tuple(r) for r in bdf.orderBy("ts").collect()]
    assert got == want


def test_streaming_changed_cols(spark, tmp_path):
    """changed_cols expands through the stateful operator in streaming."""
    path = _write_files(tmp_path, 1)
    sql = "SELECT ts, changed_cols('c_', true, v, u) FROM strm"
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts"])
    assert df.columns == ["ts", "c_v", "c_u"]
    q = (
        df.writeStream.format("memory")
        .queryName("sanl_cc")
        .option("checkpointLocation", str(tmp_path / "ck_cc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [tuple(r) for r in spark.sql("select * from sanl_cc order by ts").collect()]
    bdf = compile_sql(spark, sql, cat, order_cols=["ts"])
    assert got == [tuple(r) for r in bdf.orderBy("ts").collect()]


def test_streaming_mixed_partitions_raise(spark, tmp_path):
    path = _write_files(tmp_path, 1)
    cat = Catalog()
    cat.register(
        StreamDef(name="strm", format="json", path=path + "/*.json", schema=SCHEMA)
    )
    with pytest.raises(NotImplementedError, match="DIFFERENT OVER partitions"):
        compile_sql(
            spark,
            "SELECT lag(v) OVER (PARTITION BY u) AS a, lag(v) OVER (PARTITION BY x) AS b FROM strm",
            cat,
            streaming=True,
            order_cols=["ts"],
        )


# ---------------------------------------------------------------------------
# vectorized-vs-row-loop parity on null-laden inputs (ADVICE r7: cummax/
# cummin NaN holes and batch-ending nulls lost state; acc_count coerced
# strings to NaN and never counted them — funcs_acc.go counts any non-nil)
# ---------------------------------------------------------------------------
def _vec_vs_loop(kind, batches, in_col="x", **kw):
    import pandas as pd

    from ekuiper_spark.streaming.analytics import (
        AnalyticSpec,
        _spec_step,
        _vector_spec,
    )

    spec = AnalyticSpec(
        kind=kind, out="o", out_type=T.StringType(), in_cols=[in_col], **kw
    )
    st_vec: dict = {}
    st_loop: dict = {}
    got_vec, got_loop = [], []
    for rows in batches:
        pdf = pd.DataFrame({in_col: pd.Series(rows, dtype="object")})
        got_vec.extend(_vector_spec(spec, st_vec, pdf).tolist())
        for r in rows:
            got_loop.extend([_spec_step(spec, st_loop, {in_col: r})])
    return got_vec, got_loop


@pytest.mark.parametrize("kind", ["acc_max", "acc_min", "acc_sum", "acc_avg", "acc_count"])
def test_vectorized_acc_nulls_match_row_loop(kind):
    batches = [
        [5.0, None],          # batch ENDS in null: state must still persist
        [None, 1.0, None],
        [None],               # all-null batch
        [9.0, 2.0],
    ]
    vec, loop = _vec_vs_loop(kind, batches)
    assert vec == loop, f"{kind}: {vec} != {loop}"


def test_vectorized_acc_count_counts_non_numeric():
    # funcs_acc.go accCountFunc counts any non-nil value, strings included
    vec, loop = _vec_vs_loop("acc_count", [["x", None, "y"], ["z"]])
    assert loop == [1, 1, 2, 3]
    assert vec == loop


def _vec_vs_loop_gated(kind, batches, seed_cols, **kw):
    """batches: list of list[dict] rows with keys x (value), w (when),
    b/r (begin/reset); compares _vector_spec against _spec_step with
    state carried across batches on both sides."""
    import pandas as pd

    from ekuiper_spark.streaming.analytics import (
        AnalyticSpec,
        _spec_step,
        _vector_spec,
    )

    spec = AnalyticSpec(
        kind=kind, out="o", out_type=T.StringType(), in_cols=["x"], **kw
    )
    st_vec: dict = {}
    st_loop: dict = {}
    got_vec, got_loop = [], []
    for rows in batches:
        pdf = pd.DataFrame(
            {c: pd.Series([r.get(c) for r in rows], dtype="object") for c in seed_cols}
        )
        got_vec.extend(_vector_spec(spec, st_vec, pdf).tolist())
        for r in rows:
            got_loop.append(_spec_step(spec, st_loop, {c: r.get(c) for c in seed_cols}))
    return got_vec, got_loop


@pytest.mark.parametrize("kind", [
    "lag", "latest", "changed_col", "had_changed",
    "acc_sum", "acc_avg", "acc_count", "acc_max", "acc_min",
])
@pytest.mark.parametrize("ign", [True, False])
def test_gated_vector_matches_row_loop_randomized(kind, ign):
    """ADVICE r7 / VERDICT ask #2: WHEN-gated (and begin/reset-gated)
    analytics vectorize; a seeded random stream with nulls, gates, and
    batch splits must match the row-loop reference semantics exactly."""
    import random

    rng = random.Random(f"{kind}-{ign}")
    rows = []
    for _ in range(400):
        rows.append({
            "x": rng.choice([None, None, 0.0, 1.0, 2.0, 5.0, -3.0]),
            "w": rng.choice([True, True, False, None]),
            "b": rng.random() < 0.15,
            "r": rng.random() < 0.15,
        })
    # uneven batch splits exercise cross-batch state carry
    batches = [rows[0:37], rows[37:37], rows[37:201], rows[201:399], rows[399:400]]
    kw = {"when_col": "w", "ign": ign, "n": 2, "default": None}
    cols = ["x", "w"]
    if kind.startswith("acc_"):
        kw.update({"begin_col": "b", "reset_col": "r"})
        cols = ["x", "w", "b", "r"]
    vec, loop = _vec_vs_loop_gated(kind, [b for b in batches if b], cols, **kw)

    def norm(xs):
        out = []
        for x in xs:
            if isinstance(x, float) and x != x:
                out.append(None)
            elif isinstance(x, float) and x == int(x):
                out.append(int(x))
            elif hasattr(x, "item"):
                out.append(norm([x.item()])[0])
            else:
                out.append(x)
        return out

    assert norm(vec) == norm(loop), f"{kind} ign={ign}"


@pytest.mark.parametrize("kind", ["acc_sum", "acc_count", "acc_max"])
def test_gated_acc_reset_then_begin_same_row_boundary(kind):
    """A reset immediately followed by a begin opens a FRESH segment even
    though the active mask stays contiguous (funcs_acc.go closes after
    accumulating the reset row)."""
    rows = [
        {"x": 1.0, "w": True, "b": True, "r": False},
        {"x": 2.0, "w": True, "b": False, "r": True},   # closes after this row
        {"x": 4.0, "w": True, "b": True, "r": False},   # fresh accumulators
    ]
    kw = {"when_col": "w", "begin_col": "b", "reset_col": "r", "ign": True}
    vec, loop = _vec_vs_loop_gated(kind, [rows], ["x", "w", "b", "r"], **kw)
    assert [float(x) if x is not None else x for x in vec] == \
           [float(x) for x in loop]
    if kind == "acc_sum":
        assert [float(x) for x in loop] == [1.0, 3.0, 4.0]


def test_streaming_state_window_content_emission(spark, tmp_path):
    """Round 8: non-aggregated SELECT over a streaming STATEWINDOW emits
    the window CONTENT rows (reference window-collection -> ProjectOp);
    equal to the batch translation, incl. per-row HAVING-attached aggs."""
    import json as _json

    d = tmp_path / "sw"
    d.mkdir()
    data = [
        {"a": 1.0, "on": True}, {"a": 2.0, "on": True}, {"a": 3.0, "on": False},
        {"a": 4.0, "on": True}, {"a": 5.0, "on": False}, {"a": 6.0, "on": True},
        {"a": 7.0, "on": True}, {"a": 8.0, "on": False},
    ]
    with open(d / "x.json", "w") as f:
        for i, r in enumerate(data):
            f.write(_json.dumps({**r, "ts": 1000 + i}) + "\n")
    cat = Catalog()
    cat.register(StreamDef(
        name="sw", format="json", path=str(d) + "/*.json",
        schema=T.StructType([
            T.StructField("a", T.DoubleType()),
            T.StructField("on", T.BooleanType()),
            T.StructField("ts", T.LongType()),
        ]),
    ))
    sql = "SELECT a FROM sw GROUP BY STATEWINDOW(on = true)"
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        sdf = compile_sql(spark, sql, cat, streaming=True, order_cols=["ts"])
        q = (
            sdf.writeStream.format("memory").queryName("swcontent")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("swcontent").collect())
        bdf = compile_sql(spark, sql, cat, order_cols=["ts"])
        want = sorted(tuple(r) for r in bdf.collect())
    assert got == want and len(want) > 0

"""Custom stateful streaming operators via applyInPandasWithState.

The reference implements count/state/session/sliding windows as stateful
Go operators (internal/topo/node/window_op.go:304-347 sessions, :520-568
count windows, :593-619 sliding; window_v2_op.go:124-247 state windows).
Spark has no native count/state window, so the streaming path uses
applyInPandasWithState: state carries the open-window buffer between
micro-batches; complete windows emit, the trailing partial stays buffered
(the reference's emit-on-full behavior).

The core is :func:`window_agg_stream`, one operator parameterized by
window kind and a list of :class:`AggSpec`.  The translator computes
aggregate *input expressions* natively (Catalyst, upstream of the
stateful op); each kind's function only buffers rows and cuts windows.
Every cut window then goes through one helper, ``reduce_window``, that
reduces it and appends its rows to the output (content, GROUP BY
subgroup and scalar modes).  Two fast paths reduce many windows at once:

- count windows without content, WHERE or subgroups reduce via
  ``ndarray.reshape(-1, n)`` + axis reductions;
- aggregated sliding windows use pandas time-based ``rolling`` (no delay)
  or prefix sums and a sparse table (delay / watermark-gated).

Two scans stay per row, over one key's rows of one micro-batch: the
session close scan (``_session_bounds``; the cap tick depends on the
running session start) and the sliding gap throttle (``_gap_gate``;
lastHit advances only on hits).

Sliding ties: ``rolling`` bounds equal timestamps by row position, so a
trigger's frame holds the rows up to itself; the ``searchsorted`` frames
(delay, subgroups, frame content) hold every row with the same timestamp.

Scale note: state is keyed — a global count/sliding window (the
reference's semantics, single-process) uses one key and is inherently
serial; keyed variants (GROUP BY dims) distribute.  An explicit warning
fires on the global path (see ``_warn_global``).
"""

from __future__ import annotations

import json
import sys
import warnings
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _an_default(o):
    """JSON encoder for fused-analytic state values: TIMESTAMP as tagged
    epoch-micros, BINARY as tagged base64, numpy scalars via .item()."""
    import base64
    import datetime as _dt

    if isinstance(o, (pd.Timestamp, np.datetime64, _dt.datetime)):
        return {"__ts_us__": int(pd.Timestamp(o).value // 1000)}
    if isinstance(o, (bytes, bytearray)):
        return {"__b64__": base64.b64encode(bytes(o)).decode("ascii")}
    if hasattr(o, "item"):
        return o.item()
    return str(o)


def _an_decode(o):
    """Inverse of _an_default over a decoded JSON tree: tagged dicts
    become pd.Timestamp / bytes again so ring/carry values compare and
    emit exactly like fresh Arrow-batch values."""
    import base64

    if isinstance(o, dict):
        if set(o) == {"__ts_us__"}:
            return pd.Timestamp(int(o["__ts_us__"]) * 1000)
        if set(o) == {"__b64__"}:
            return base64.b64decode(o["__b64__"])
        return {k: _an_decode(v) for k, v in o.items()}
    if isinstance(o, list):
        return [_an_decode(v) for v in o]
    return o

__all__ = [
    "AggSpec",
    "window_agg_stream",
    "count_window_stream",
    "state_window_stream",
    "sliding_window_stream",
]


@dataclass(frozen=True)
class AggSpec:
    """One aggregate computed over each emitted window.

    op: count|sum|avg|min|max|first|last|collect|stddev|stddevs|var|vars|
        median — the numpy-reducible subset of funcs_agg.go.
    in_col: upstream column name holding the (natively pre-computed)
        aggregate input expression; None only for count.
    out: output column name.
    """

    op: str
    in_col: Optional[str]
    out: str


@dataclass(frozen=True)
class WinFuncSpec:
    """row_number() computed over each emitted window's CONTENT rows
    (reference WindowFuncOperator, windowfunc_operator.go:27-160): rank
    within the window collection, optionally partitioned and sorted by
    OVER (PARTITION BY ... ORDER BY ...).  Nil sort keys rank LAST in
    both directions (OrderOp semantics).  parts/orders name upstream
    (natively pre-computed) columns; ascs aligns with orders.

    group_rank=True: GROUP BY dims mode — the reference's
    WindowFuncPlan sits ABOVE AggregatePlan (planner.go:807-833), so
    the rank runs over the window's GROUPS (one per dim value), in
    group FORMATION order by default (the group's first content row);
    parts/orders then name OUTPUT columns of the grouped row (dim keys
    / aggregate outs)."""

    out: str
    parts: tuple = ()
    orders: tuple = ()
    ascs: tuple = ()
    group_rank: bool = False


_GLOBAL_WARNING = (
    "unkeyed %s window: all rows route through ONE state partition "
    "(matches the reference's single-process semantics but serializes at "
    "scale). Add GROUP BY dims / a partition column for the distributed path."
)


def _warn_global(kind: str) -> None:
    warnings.warn(_GLOBAL_WARNING % kind, UserWarning, stacklevel=3)


# --------------------------------------------------------------------------- #
# type plumbing
# --------------------------------------------------------------------------- #
_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _is_ts(dt: T.DataType) -> bool:
    return isinstance(dt, (T.TimestampType, T.TimestampNTZType))


def _state_elem_type(dt: T.DataType) -> T.DataType:
    if _is_ts(dt):
        return T.LongType()  # epoch micros
    if isinstance(dt, _INT_TYPES):
        return T.LongType()
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return T.DoubleType()
    if isinstance(dt, T.BooleanType):
        return T.BooleanType()
    return T.StringType()


def _agg_out_type(op: str, in_type: Optional[T.DataType]) -> T.DataType:
    if op == "count":
        return T.LongType()
    if op == "avg" and isinstance(in_type, _INT_TYPES):
        # integer avg is integer division in the reference
        # (funcs_agg.go:56-81) — matches the batch translator's
        # truncating division
        return T.LongType()
    if op in ("avg", "stddev", "stddevs", "var", "vars", "median"):
        return T.DoubleType()
    if op == "collect":
        return T.ArrayType(in_type)
    if op == "sum":
        if isinstance(in_type, _INT_TYPES):
            return T.LongType()
        return T.DoubleType()
    # min/max/first/last preserve the input type
    return in_type


# null longs buffer as an explicit sentinel (int64 arrays cannot hold NaN;
# an implicit NaN->int64 cast is undefined and must never happen silently)
_LONG_NULL = np.iinfo("int64").min


def _col_to_np(series: pd.Series, dt: T.DataType) -> np.ndarray:
    if _is_ts(dt):
        return series.values.astype("datetime64[us]").astype("int64")
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return series.to_numpy(dtype="float64")
    if isinstance(dt, _INT_TYPES):
        if series.isna().any():
            # narrower-than-long ints with nulls cross Arrow -> pandas
            # as float64 — exact for their whole range (< 2^53).  LONG
            # agg inputs never reach here: window_agg_stream swaps their
            # nulls for _LONG_NULL map-side, so the series arrives as
            # never-null int64 and full 64-bit exactness holds
            arr = series.to_numpy(dtype="float64")
            return np.where(np.isnan(arr), _LONG_NULL, arr).astype("int64")
        return series.to_numpy(dtype="int64")
    if isinstance(dt, T.BooleanType):
        return series.to_numpy(dtype="bool")
    return series.to_numpy(dtype="object")


def _f64_nulls(arr: np.ndarray, dt: T.DataType) -> np.ndarray:
    """float64 view of a buffered column with nulls restored to NaN."""
    v = arr.astype("float64")
    if _is_ts(dt) or isinstance(dt, _INT_TYPES):
        v[arr == _LONG_NULL] = np.nan
    return v


def _np_to_out(arr: np.ndarray, dt: T.DataType):
    """Emit-side conversion: int64-micros back to timestamps.  A float
    array here means nulls were restored (NaN) by the reducers —
    to_datetime maps NaN to NaT; micros stay float64-exact to ~year
    2255."""
    if _is_ts(dt):
        a = np.asarray(arr)
        if a.dtype.kind in ("f", "O"):
            # float = NaN-restored nulls; object = micros-or-None picks
            return pd.to_datetime(pd.Series(a), unit="us")
        return pd.to_datetime(a.astype("int64"), unit="us")
    return arr


def _empty_np(dt: T.DataType) -> np.ndarray:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return np.empty(0, dtype="float64")
    if isinstance(dt, T.BooleanType):
        return np.empty(0, dtype="bool")
    if isinstance(dt, T.StringType):
        return np.empty(0, dtype="object")
    return np.empty(0, dtype="int64")  # longs + ts-as-micros


# matrix reducers for the reshape path (count windows): (n_windows, n) -> (n_windows,)
_MATRIX_OPS = {
    "count": lambda m: np.full(m.shape[0], m.shape[1], dtype="int64"),
    "sum": lambda m: m.sum(axis=1),
    "avg": lambda m: m.astype("float64").mean(axis=1),
    "min": lambda m: m.min(axis=1),
    "max": lambda m: m.max(axis=1),
    "first": lambda m: m[:, 0],
    "last": lambda m: m[:, -1],
    "stddev": lambda m: m.astype("float64").std(axis=1, ddof=0),
    "stddevs": lambda m: m.astype("float64").std(axis=1, ddof=1),
    "var": lambda m: m.astype("float64").var(axis=1, ddof=0),
    "vars": lambda m: m.astype("float64").var(axis=1, ddof=1),
    "median": lambda m: np.median(m.astype("float64"), axis=1),
    "collect": lambda m: list(m.tolist()),
}

# value-picking aggregates: their result keeps the input type
_PICK_OPS = ("min", "max", "first", "last", "last_nn")

# pandas rolling methods for the sliding path
_ROLLING_OPS = {"count", "sum", "avg", "min", "max", "stddev", "stddevs", "median"}


def _null_mask(arr: np.ndarray, dt: T.DataType) -> np.ndarray:
    """True where a buffered value is a SQL null (sentinel for ints AND
    timestamps — NaT buffers as the same INT64_MIN — NaN for floats)."""
    if _is_ts(dt) or isinstance(dt, _INT_TYPES):
        return arr == _LONG_NULL
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return np.isnan(arr)
    if np.asarray(arr).dtype.kind == "O":
        return pd.isnull(np.asarray(arr))
    return np.zeros(np.shape(arr), dtype=bool)


_NAN_MATRIX_OPS = {
    "sum": lambda f: np.nansum(f, axis=1),
    "avg": lambda f: np.nanmean(f, axis=1),
    "min": lambda f: np.nanmin(f, axis=1),
    "max": lambda f: np.nanmax(f, axis=1),
    "stddev": lambda f: np.nanstd(f, axis=1, ddof=0),
    "stddevs": lambda f: np.nanstd(f, axis=1, ddof=1),
    "var": lambda f: np.nanvar(f, axis=1, ddof=0),
    "vars": lambda f: np.nanvar(f, axis=1, ddof=1),
    "median": lambda f: np.nanmedian(f, axis=1),
}


def _reduce_matrix(op: str, mat: np.ndarray, dt: T.DataType) -> np.ndarray:
    """(n_win, n) -> (n_win,) with SQL null semantics: nulls are skipped
    (reference getCount/sliceTotal skip nil), an all-null frame yields
    null (NaN placeholder, mapped back at emit)."""
    if op == "last_nn":
        # last non-null per row (last_value(col, true), funcs_agg.go:371);
        # object-array picks keep int64 exactness and cover strings —
        # the loop runs once per EMITTED window, not per row
        valid = ~_null_mask(mat, dt)
        idx = mat.shape[1] - 1 - np.argmax(valid[:, ::-1], axis=1)
        picks = [
            mat[i, idx[i]] if valid[i].any() else None
            for i in range(mat.shape[0])
        ]
        return np.array(picks, dtype=object)
    if op in ("first", "last"):
        res = _MATRIX_OPS[op](mat)
        m = _null_mask(res, dt)
        if m.any():
            # null picks -> None via an object array (a float64 detour
            # would corrupt valid int64 picks above 2^53)
            out = np.array(list(res), dtype=object)
            out[m] = None
            return out
        return res
    if op == "collect":
        m = _null_mask(mat, dt)
        if m.any():
            return [
                [None if nn else v for v, nn in zip(row, mrow)]
                for row, mrow in zip(mat.tolist(), m.tolist())
            ]
        return _MATRIX_OPS[op](mat)
    mask = _null_mask(mat, dt)
    if op == "count":
        return (~mask).sum(axis=1).astype("int64")
    if not mask.any():
        return _MATRIX_OPS[op](mat)
    if (
        np.asarray(mat).dtype.kind == "i"
        and not _is_ts(dt)
        and op in ("sum", "min", "max")
    ):
        # exact int64 null-skipping path: a float64 detour would lose
        # integer exactness above 2^53 for the non-null values
        all_null = mask.all(axis=1)
        if op == "sum":
            res = np.where(mask, 0, mat).sum(axis=1)
        elif op == "min":
            res = np.where(mask, np.iinfo("int64").max, mat).min(axis=1)
        else:
            res = np.where(mask, np.iinfo("int64").min, mat).max(axis=1)
        if all_null.any():
            out = np.array(list(res), dtype=object)
            out[all_null] = None
            return out
        return res
    f = _f64_nulls(mat, dt)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        res = _NAN_MATRIX_OPS[op](f)
    res = np.asarray(res, dtype="float64")
    res[mask.all(axis=1)] = np.nan
    return res


def _row_numbers(frame: pd.DataFrame, wf: WinFuncSpec) -> np.ndarray:
    """row_number() per ``wf`` over ``frame``'s rows (RangeIndex), which
    arrive in the default rank order (event or group-formation order):
    a stable sort on the OVER keys with nil keys LAST in both directions,
    numbering restarting per OVER partition."""
    n = len(frame)
    order = (
        frame.sort_values(
            list(wf.orders),
            ascending=list(wf.ascs),
            na_position="last",
            kind="mergesort",
        ).index.to_numpy()
        if wf.orders
        else np.arange(n)
    )
    ranks = np.empty(n, dtype="int64")
    if wf.parts:
        ranks[order] = (
            frame.loc[order]
            .groupby(list(wf.parts), sort=False, dropna=False)
            .cumcount()
            .to_numpy()
            + 1
        )
    else:
        ranks[order] = np.arange(1, n + 1)
    return ranks


def _range_extrema(
    vals: np.ndarray, left: np.ndarray, right: np.ndarray, op: str
) -> np.ndarray:
    """min/max of vals[l:r) per (l, r) pair — sparse table, O(n log n)
    build + O(1) per query; NaNs (nulls) are ignored (fmin/fmax)."""
    n = len(vals)
    reduce_ = np.fmin if op == "min" else np.fmax
    out = np.full(len(left), np.nan)
    if n == 0 or len(left) == 0:
        return out
    levels = max(1, n.bit_length())
    table = np.full((levels, n), np.nan)
    table[0] = vals
    j = 1
    while (1 << j) <= n:
        span = 1 << j
        half = span >> 1
        m = n - span + 1
        table[j, :m] = reduce_(table[j - 1, :m], table[j - 1, half : half + m])
        j += 1
    width = (right - left).astype("int64")
    nz = width > 0
    if nz.any():
        k = np.zeros(len(left), dtype="int64")
        k[nz] = np.floor(np.log2(width[nz])).astype("int64")
        l_, r_, kk = left[nz], right[nz], k[nz]
        out[nz] = reduce_(table[kk, l_], table[kk, r_ - (1 << kk)])
    return out


def _rolling_reduce(roll, col: str, op: str) -> pd.Series:
    r = roll[col]
    if op == "count":
        return r.count()
    if op == "sum":
        return r.sum()
    if op == "avg":
        return r.mean()
    if op == "min":
        return r.min()
    if op == "max":
        return r.max()
    if op == "median":
        return r.median()
    if op == "stddev":
        return r.std(ddof=0)
    if op == "stddevs":
        return r.std(ddof=1)
    raise KeyError(op)


# --------------------------------------------------------------------------- #
# the generic operator
# --------------------------------------------------------------------------- #
def window_agg_stream(
    sdf: DataFrame,
    kind: str,
    *,
    n: Optional[int] = None,
    begin_col: Optional[str] = None,
    emit_col: Optional[str] = None,
    length_us: Optional[int] = None,
    delay_us: int = 0,
    cap_us: Optional[int] = None,
    timeout_us: Optional[int] = None,
    flush_open_ms: Optional[int] = None,
    watermark_gated: bool = False,
    unit_ms: bool = False,  # long (epoch-ms) event cols: frame math and
                            # watermark comparisons run in MS, not US
    state_max_rows: int = 1_000_000,
    dims: Sequence[str] = (),
    subgroups: Sequence[str] = (),
    order_cols: Sequence[str] = ("ts",),
    aggs: Sequence[AggSpec] = (),
    passthrough: Sequence[str] = (),
    emit_wid: bool = False,
    emit_bounds: bool = False,
    keep_col: Optional[str] = None,
    emit_content: bool = False,
    winfuncs: Sequence[WinFuncSpec] = (),
    pre_analytics: Sequence = (),
    gap_throttle: Optional[tuple[int, bool]] = None,  # sliding OVER(WHEN
                                    # [flag AND] ts - last_hit_time() > K):
                                    # (K, ge) in the ts column's OWN unit;
                                    # lastHit persists in state and
                                    # advances only on FULL hits (flag AND
                                    # gap), window_op.go isMatchCondition
    pre_filter_col: Optional[str] = None,  # WHERE routed post-analytics:
                                    # fused analytic state advances on ALL
                                    # rows, then this boolean prunes rows
                                    # BEFORE window formation (FilterPlan
                                    # above AnalyticFuncsPlan below
                                    # WindowPlan, planner.go:651-693)
    emit_trigger_us: bool = False,  # sliding-subgroup: emit the trigger
                                    # time (col unit) per output row
    frame_content: bool = False,    # plain non-agg sliding: emit the
                                    # WHOLE frame's rows per trigger (the
                                    # reference RangeSet over the window
                                    # collection; batch membership-join
                                    # parity) instead of the trigger row
) -> DataFrame:
    """Generic stateful streaming window aggregation.

    kind='count'   : COUNTWINDOW(n) — emit one row per n buffered events
                     (window_op.go:520-568; only full windows emit, the
                     remainder carries in state).
    kind='state'   : STATEWINDOW(begin, emit[, dims]) — begin/emit are
                     boolean columns computed natively upstream
                     (window_v2_op.go:124-247).  Single-condition form:
                     pass the condition as BOTH begin_col and a null
                     emit_col is not allowed — use ``emit_col=None`` with
                     ``begin_col=cond`` (run-of-true islands; a window
                     closes when the condition turns false).
    kind='sliding' : SLIDINGWINDOW(length[, delay]) — per-event emission
                     of aggs over [t-length, t] (window_op.go:593-619),
                     or [t-length, t+delay) once event time passes
                     t+delay; passthrough columns emit alongside.  Without
                     subgroups the aggs are the pandas-rolling subset
                     (count/sum/avg/min/max/stddev/stddevs/median), or
                     count/sum/avg/min/max with a delay or watermark.
    kind='session' : capped SESSIONWINDOW(unit, length, interval) —
                     cap_us/timeout_us (window_op.go:304-347); sessions
                     are keyed by dims (per-key state), closed sessions
                     emit, the open tail carries in state.

    Each kind's function buffers rows and cuts windows; every cut
    window goes through one helper, ``reduce_window``, which reduces it
    and appends its rows (content, subgroup or scalar mode).  Only the
    count reshape path and the sliding rolling / prefix-sum paths reduce
    many windows at once.  Sliding ties: ``rolling`` bounds equal
    timestamps by row position (a trigger's frame ends at its own row),
    while the ``searchsorted`` frames of the delayed, subgrouped and
    frame-content forms include every row with the trigger's timestamp.

    dims key the state (the 100 TB path); with no dims a single global
    key is used and a warning fires.

    subgroups (count/state kinds): GROUP BY dims *within* each window —
    the reference's aggregate-after-window order (the window op batches
    rows, then AggregateOp groups the batch): each emitted window yields
    one row per distinct subgroup value, aggregated over that subgroup's
    rows only.

    state_max_rows caps the per-key open-window buffer (scale guard the
    reference lacks — a STATEWINDOW key whose emit condition never fires
    would otherwise grow state forever at 100x).  On overflow the OLDEST
    buffered rows are trimmed (emit-partial semantics: the window still
    closes on its condition, aggregating the retained tail) and a warning
    is logged on the executor.

    keep_col (count/sliding): a boolean column carrying the rule's WHERE
    predicate — the reference never pushes WHERE below COUNT/SLIDING
    windows (windowPlan.go:92-95): windows form and trigger from ALL
    rows, the filter prunes each window's CONTENT, and a fully-pruned
    window drops whole (filter_operator.go:84-87).
    """
    if kind not in ("count", "state", "sliding", "session"):
        raise ValueError(f"unknown stateful window kind {kind!r}")
    if keep_col is not None and kind not in ("count", "sliding"):
        raise ValueError("keep_col applies to count/sliding windows only")
    if emit_content and kind not in ("count", "state", "session"):
        raise NotImplementedError(
            "emit_content is a COUNT/STATE/SESSION window feature"
        )
    if emit_content and subgroups:
        raise NotImplementedError(
            "streaming window content emission with GROUP BY dims is unsupported"
        )
    if any(not wf.group_rank for wf in winfuncs) and not emit_content:
        raise ValueError("winfuncs (row_number over content) require emit_content")
    if any(wf.group_rank for wf in winfuncs) and not subgroups:
        raise ValueError("group_rank winfuncs (row_number over groups) require subgroups")
    schema = {f.name: f.dataType for f in sdf.schema.fields}
    # pre_analytics (AnalyticSpec list): analytic/accumulator calls the
    # reference evaluates BELOW the window (AnalyticFuncsPlan) — Spark
    # allows only ONE applyInPandasWithState per streaming query, so the
    # window operator advances the analytic state itself on each arriving
    # batch (stream order) and the outputs flow into the window buffers
    # as virtual columns.  Only valid on a globally-keyed window op (the
    # reference's analytic state is global to the rule).
    # pre_an + dims is sound ONLY when the analytics' OVER(PARTITION BY)
    # keys equal the dims (per-key GroupState carries per-partition
    # analytic state) — the translator enforces that equality before
    # passing specs (translator._hoist_analytics_streaming)
    pre_an = list(pre_analytics)
    for s in pre_an:
        schema[s.out] = s.out_type
    order_cols = [c for c in order_cols if c in schema] or list(sdf.columns[:1])
    if kind == "sliding" and not subgroups:
        allowed = (
            {"count", "sum", "avg", "min", "max"}
            if (delay_us or watermark_gated) else _ROLLING_OPS
        )
        bad = [a.op for a in aggs if a.op not in allowed]
        if bad:
            raise NotImplementedError(
                f"streaming SLIDINGWINDOW supports {sorted(allowed)} aggregates"
                f"{' with delay' if delay_us else ''}; got {bad}"
            )

    # --- columns that must cross into the pandas fn -----------------------
    agg_in = [a.in_col for a in aggs if a.in_col is not None]
    ts_col = order_cols[0]
    keep_extra = [keep_col] if keep_col else []
    if pre_filter_col:
        keep_extra = keep_extra + [pre_filter_col]
    if kind == "sliding" and (delay_us or watermark_gated):
        needed = list(dict.fromkeys([ts_col] + agg_in + list(subgroups) + list(passthrough) + keep_extra))
    elif kind == "sliding":
        needed = list(dict.fromkeys(list(order_cols) + agg_in + list(subgroups) + list(passthrough) + keep_extra))
    else:
        content_extra = list(passthrough) if emit_content else []
        for wf in winfuncs:
            if not wf.group_rank:  # group-rank keys name OUTPUT cols
                content_extra.extend(list(wf.parts) + list(wf.orders))
        needed = list(dict.fromkeys(list(order_cols) + agg_in + list(subgroups) + content_extra + ([begin_col] if begin_col else []) + ([emit_col] if emit_col else []) + keep_extra))
    if kind == "sliding" and (delay_us or watermark_gated):
        buffered = list(needed)  # pending rows wait in state with their row cols
    elif kind == "sliding" and frame_content:
        # frame rows emit per trigger: every visible passthrough column
        # (incl. fused analytic outputs — each frame row carries its own
        # lag/latest value) must ride the lookback buffer; trigger-local
        # __ cols (__trig/__et) stay batch-side
        _an_buf2 = {s.out for s in pre_an}
        buffered = [
            c for c in needed
            if c == ts_col
            or (c in passthrough and (not c.startswith("__") or c in _an_buf2))
            or c in keep_extra
        ]
    elif kind == "sliding" and aggs:
        # aggregated sliding: passthrough raw columns AND fused analytic
        # outputs emit the FIRST frame row's value (reference
        # project-over-grouped), so they must ride the frame buffer
        # across batches (as do subgroup columns for the content-sub-
        # grouped form); __trig/__et stay trigger-row-local
        _an_buf = {s.out for s in pre_an}
        buffered = [
            c for c in needed
            if c == ts_col or c in agg_in or c in subgroups
            or (c in passthrough and (not c.startswith("__") or c in _an_buf))
        ]
    elif kind == "sliding":
        buffered = [c for c in needed if c == ts_col or c in agg_in]
    else:
        buffered = [c for c in needed if c not in (begin_col, emit_col)]
    buffered = list(dict.fromkeys(buffered + keep_extra))

    # --- nullable-long exactness ------------------------------------------
    # a nullable LONG column crosses Spark's Arrow->pandas boundary as
    # float64 (exact only to 2^53).  Agg INPUT columns therefore swap
    # nulls for the buffer's own sentinel MAP-SIDE (pure-JVM coalesce), so
    # the series arrives as never-null int64 and _col_to_np keeps the
    # exact fast path; the reducers already treat _LONG_NULL as SQL null.
    # Narrower ints are float64-exact anyway; dims/subgroups/order/
    # passthrough columns emit verbatim and are left untouched.
    protected = (
        set(dims) | set(subgroups) | set(passthrough) | set(order_cols)
        | {begin_col, emit_col}
    )
    for c in dict.fromkeys(agg_in):
        if (
            c not in protected
            and c in sdf.columns  # virtual pre-analytics outputs never null
            and isinstance(schema[c], T.LongType)
        ):
            sdf = sdf.withColumn(
                c, F.coalesce(F.col(c), F.lit(int(_LONG_NULL)).cast("long"))
            )

    # --- schemas ----------------------------------------------------------
    out_fields: list[T.StructField] = []
    for d in dims:
        out_fields.append(T.StructField(d, schema[d]))
    for s in subgroups:
        out_fields.append(T.StructField(s, schema[s]))
    if emit_wid:
        out_fields.append(T.StructField("wid", T.LongType()))
    if emit_bounds and kind != "session":
        raise ValueError("emit_bounds is a session-window feature")
    if emit_bounds:
        # window_start/window_end as epoch-micros longs; the translator
        # wraps them into the `window` struct the projection reads
        out_fields.append(T.StructField("__ws", T.LongType()))
        out_fields.append(T.StructField("__we", T.LongType()))
    if (kind == "sliding" and not subgroups) or emit_content:
        for c in passthrough:
            out_fields.append(T.StructField(c, schema[c]))
    if emit_trigger_us:
        out_fields.append(T.StructField("__et_us", T.LongType()))
    for wf in winfuncs:
        out_fields.append(T.StructField(wf.out, T.LongType()))
    for a in aggs:
        in_t = schema[a.in_col] if a.in_col else None
        out_fields.append(T.StructField(a.out, _agg_out_type(a.op, in_t)))
    out_schema = T.StructType(out_fields)

    # session state carries the open session's window start (-1 = derive
    # from the first buffered event): after a cap-tick split the follow-up
    # session opens AT the tick (window_op.go:734), which the next batch
    # cannot reconstruct from the trimmed buffer alone
    has_ws = kind == "session"
    state_fields = [
        T.StructField("emitted", T.LongType()),
        T.StructField("is_open", T.BooleanType()),
    ] + (
        [T.StructField("ws_open", T.LongType())] if has_ws else []
    ) + [
        T.StructField(f"b_{c}", T.ArrayType(_state_elem_type(schema[c]))) for c in buffered
    ] + (
        # fused analytic state (JSON dict: spec index -> numeric state)
        [T.StructField("an_state", T.StringType())] if pre_an else []
    ) + (
        # sliding gap-throttle lastHit (ts-col unit; Go zero start)
        [T.StructField("lhit", T.LongType())] if gap_throttle is not None else []
    )
    state_schema = T.StructType(state_fields)

    state_names = [f.name for f in state_fields]

    dim_list = list(dims)
    sub_list = list(subgroups)
    agg_list = list(aggs)
    pass_list = list(passthrough)
    order_list = list(order_cols)
    winfunc_list = list(winfuncs)
    buf_types = {c: schema[c] for c in buffered}
    buf_dtypes = {c: _empty_np(_state_elem_type(buf_types[c])).dtype for c in buffered}
    out_types = {f.name: f.dataType for f in out_fields}

    # ------------------------------------------------------------------ #
    # state: one row per key, read and written by the schema's field names
    # ------------------------------------------------------------------ #
    def load_state(state: GroupState) -> tuple[dict, dict]:
        """The key's state as (slots, buf): the scalar slots by field name
        (a fresh key gets the defaults) and the row buffers as arrays.
        ``emitted`` counts emitted windows (the sliding-delay op keeps its
        emission threshold there); ``an_state`` is the decoded fused
        analytic state, advanced in place by ``read_batch``; ``lhit`` is
        the gap throttle's lastHit, advanced by ``_gap_gate``."""
        row = dict(zip(state_names, state.get)) if state.exists else {}
        ws, an = row.get("ws_open"), row.get("an_state")
        slots = {
            "emitted": row.get("emitted", 0),
            "is_open": row.get("is_open", False),
            "ws_open": -1 if ws is None else int(ws),
            "an_state": _an_decode(json.loads(an)) if an else {},
            "lhit": int(row.get("lhit") or 0),
        }
        buf = {
            c: np.asarray(list(row.get(f"b_{c}") or []), dtype=buf_dtypes[c])
            for c in buffered
        }
        return slots, buf

    def save_state(state: GroupState, slots: dict, buf: dict) -> None:
        n_buf = len(buf[ts_col]) if buffered else 0
        if state_max_rows and n_buf > state_max_rows:
            print(
                f"ekuiper_spark: open-window state exceeded "
                f"{state_max_rows} rows ({n_buf}); trimming oldest "
                f"(emit-partial)",
                file=sys.stderr,
            )
            buf = {c: buf[c][-state_max_rows:] for c in buffered}
        row = {f"b_{c}": list(buf[c].tolist()) for c in buffered}
        row.update(
            emitted=int(slots["emitted"]),
            is_open=bool(slots["is_open"]),
            ws_open=int(slots["ws_open"]),
            lhit=int(slots["lhit"]),
            # lag rings / latest carries hold numpy scalars, pandas
            # Timestamps, or bytes from the arriving Arrow batch —
            # TIMESTAMP encodes as tagged epoch-micros and BINARY as
            # tagged base64 so value-carrying state round-trips the
            # checkpoint for every input type (decoded by _an_decode)
            an_state=json.dumps(slots["an_state"], default=_an_default) if pre_an else None,
        )
        state.update(tuple(row[f] for f in state_names))

    # ------------------------------------------------------------------ #
    # batch intake
    # ------------------------------------------------------------------ #
    def read_batch(pdfs: Iterator[pd.DataFrame], slots: dict, wm: Optional[int] = None) -> pd.DataFrame:
        """This key's micro-batch rows in event order.  Rows below the
        watermark ``wm`` drop first (the reference filters late events
        before the window op; Spark does not filter stateful-op input).
        The fused analytic state then advances over ALL remaining rows
        (each spec's output becomes a virtual column) before the deferred
        WHERE (pre_filter_col) prunes rows ahead of window formation."""
        parts = list(pdfs)
        batch = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
        if len(batch) and wm is not None and wm > 0:
            late = batch[ts_col].values.astype("datetime64[us]").astype("int64") < wm
            batch = batch[~late]
        if not len(batch):
            return batch
        batch = batch.sort_values(order_list, kind="mergesort").reset_index(drop=True)
        if pre_an:
            from ekuiper_spark.streaming.analytics import _vector_spec

            an_st = slots["an_state"]
            for i, s in enumerate(pre_an):
                batch[s.out] = _vector_spec(s, an_st.setdefault(str(i), {}), batch)
        if pre_filter_col is not None:
            batch = batch[
                (batch[pre_filter_col] == True).to_numpy()  # noqa: E712
            ].reset_index(drop=True)
        return batch

    def batch_arrays(batch: pd.DataFrame) -> dict:
        return {c: _col_to_np(batch[c], schema[c]) for c in buffered}

    def append_rows(buf: dict, batch: pd.DataFrame) -> dict:
        if not len(batch):
            return buf
        add = batch_arrays(batch)
        return {c: np.concatenate([buf[c], add[c]]) for c in buffered}

    # ------------------------------------------------------------------ #
    # reduce and emit
    # ------------------------------------------------------------------ #
    def new_sink() -> dict:
        """Output columns as lists, one key per emitted column (wid /
        window bounds / trigger time only when the op emits them)."""
        cols = [a.out for a in agg_list]
        if emit_trigger_us:
            cols.append("__et_us")
        if emit_content or frame_content:
            cols += pass_list
        cols += [wf.out for wf in winfunc_list] + sub_list
        if emit_wid:
            cols.append("wid")
        if emit_bounds:
            cols += ["__ws", "__we"]
        return {c: [] for c in cols}

    def window_aggs(win: dict) -> dict:
        """The window's aggregate values, one per AggSpec (timestamp picks
        and collects come back as timestamps)."""
        vals = {}
        for a in agg_list:
            src = a.in_col or ts_col
            dt = buf_types[src]
            val = _reduce_matrix(a.op, win[src].reshape(1, -1), dt)[0]
            if _is_ts(dt) and a.op in _PICK_OPS:
                val = pd.NaT if val is None or (isinstance(val, float) and np.isnan(val)) else pd.Timestamp(int(val), unit="us")
            elif _is_ts(dt) and a.op == "collect":
                val = list(pd.to_datetime(pd.Series(list(val)), unit="us"))
            vals[a.out] = val
        return vals

    def subgroup_rows(win: dict, sink: dict) -> int:
        """One window's rows -> one output row per subgroup value (pandas
        groupby; the window's rows stay in event order, so first/last
        within a subgroup follow the reference).  Returns the row count."""
        src_cols = {a.in_col or ts_col for a in agg_list} | set(sub_list)
        data = {}
        for c in src_cols:
            arr = win[c]
            dt = buf_types.get(c, T.StringType())
            # restore sentinel-buffered nulls so pandas aggregations see
            # real NA — nullable Int64 (not float64, which would round
            # int64 values above 2^53) for integral/ts agg inputs; object
            # arrays already hold real None; float NaN is already NA;
            # subgroup key columns keep their raw values
            if (
                c not in sub_list
                and (_is_ts(dt) or isinstance(dt, _INT_TYPES))
                and _null_mask(arr, dt).any()
            ):
                ser = pd.Series(arr, dtype="Int64")
                ser[arr == _LONG_NULL] = pd.NA
                arr = ser
            data[c] = arr
        pdf = pd.DataFrame(data)
        g = pdf.groupby(sub_list, sort=True)
        keys = g.size().reset_index()
        grp_rows: dict[str, list] = {sc: keys[sc].tolist() for sc in sub_list}
        for a in agg_list:
            src = a.in_col or ts_col
            s = g[src]
            if a.op == "count":
                vals = g.size() if a.in_col is None else s.count()
            elif a.op == "sum":
                vals = s.sum()
            elif a.op == "avg":
                vals = s.mean()
            elif a.op == "min":
                vals = s.min()
            elif a.op == "max":
                vals = s.max()
            elif a.op == "first":
                # positional first INCLUDING nulls (pandas .first() would
                # skip NaN — that is the ignore-null variant)
                vals = s.agg(lambda x: x.iloc[0])
            elif a.op == "last":
                vals = s.agg(lambda x: x.iloc[-1])
            elif a.op == "last_nn":
                # last_value(col, true): last non-null (funcs_agg.go:371)
                vals = s.last()
            elif a.op == "median":
                vals = s.median()
            elif a.op in ("stddev", "stddevs"):
                vals = s.std(ddof=0 if a.op == "stddev" else 1)
            elif a.op in ("var", "vars"):
                vals = s.var(ddof=0 if a.op == "var" else 1)
            elif a.op == "collect":
                vals = s.apply(list)
            else:  # pragma: no cover
                raise KeyError(a.op)
            vals = vals.reset_index(drop=True)
            if a.op in _PICK_OPS and _is_ts(buf_types.get(src, T.DoubleType())):
                # float (null-restored) series convert directly: NaN -> NaT
                vals = pd.to_datetime(vals, unit="us")
            elif a.op == "collect" and _is_ts(buf_types.get(src, T.DoubleType())):
                # buffered timestamps are int64 micros; ArrayType(TimestampType)
                # output needs datetime elements
                vals = vals.apply(lambda lst: list(pd.to_datetime(pd.Series(list(lst)), unit="us")))
            grp_rows[a.out] = vals.tolist()
        for c, v in grp_rows.items():
            sink[c].extend(v)
        if winfunc_list:
            # row_number over the window's GROUPS (WindowFuncPlan above
            # AggregatePlan; rowNumberFuncHandle over a GroupedTuplesSet):
            # default order = group FORMATION order (the group's first
            # content row); OVER keys evaluate on the grouped row (dim
            # keys / aggregate outs already in grp_rows)
            ford = (
                pd.Series(np.arange(len(pdf)))
                .groupby([pdf[sc] for sc in sub_list], sort=True)
                .min()
                .to_numpy()
            )
            formed = np.argsort(ford, kind="stable")
            seg = pd.DataFrame(grp_rows).iloc[formed].reset_index(drop=True)
            for wf in winfunc_list:
                ranks = np.empty(len(seg), dtype="int64")
                ranks[formed] = _row_numbers(seg, wf)
                sink[wf.out].extend(ranks.tolist())
        return len(keys)

    def content_ranks(win: dict, length: int) -> dict[str, np.ndarray]:
        """Per-window row_number ranks over the (pruned) content rows —
        reference WindowFuncOperator semantics: rank within the window
        collection, per OVER partition; without ORDER BY the rank follows
        the collection (event) order."""
        out: dict[str, np.ndarray] = {}
        for wf in winfunc_list:
            cols = {}
            for c in dict.fromkeys(list(wf.parts) + list(wf.orders)):
                arr = win[c]
                dt = buf_types.get(c, T.StringType())
                if (_is_ts(dt) or isinstance(dt, _INT_TYPES)) and _null_mask(arr, dt).any():
                    arr = _f64_nulls(arr, dt)  # sentinel nulls -> NaN (rank last)
                cols[c] = arr
            frame = pd.DataFrame(cols) if cols else pd.DataFrame(index=range(length))
            out[wf.out] = _row_numbers(frame, wf)
        return out

    def reduce_window(
        win: dict, sink: dict, wid: int = 0,
        ws_us: Optional[int] = None, we_us: Optional[int] = None,
        et_us: Optional[int] = None,
    ) -> None:
        """Reduce one window's rows and append its output rows to sink —
        the one per-window reduction every kind shares.  Content mode
        emits the window's (SELECT row) content rows with the window's
        aggregates attached to each, so a downstream per-row filter can
        compare row vs frame (the reference's window-collection ->
        ProjectOp path); subgroup mode emits one row per GROUP BY value
        (aggregate-after-window); scalar mode emits one row.  The window
        id, session bounds and trigger time repeat on every row emitted
        (their sink columns exist only when the op emits them)."""
        length = len(win[ts_col])
        if not length:
            return
        if sub_list:
            n_rows = subgroup_rows(win, sink)
        else:
            n_rows = length if emit_content else 1
            if emit_content:
                for c in pass_list:
                    sink[c].extend(win[c].tolist())
                for c, ranks in content_ranks(win, length).items():
                    sink[c].extend(ranks.tolist())
            for c, val in window_aggs(win).items():
                sink[c].extend([val] * n_rows)
        for c, v in (("wid", wid), ("__ws", ws_us), ("__we", we_us), ("__et_us", et_us)):
            if c in sink:
                sink[c].extend([v] * n_rows)

    def emit_frame(out_cols: dict, length: int, key) -> pd.DataFrame:
        data = {}
        for i, d in enumerate(dim_list):
            data[d] = pd.Series([key[i]] * length)
        data.update(out_cols)
        frame = pd.DataFrame(data)
        for name, vals in list(frame.items()):
            t = out_types.get(name, T.StringType())
            if _is_ts(t) and vals.dtype != "datetime64[ns]":
                k = getattr(vals.dtype, "kind", "")
                if k in ("i", "u", "f"):
                    # buffered event columns are int64 epoch-MICROS
                    # (float = NaN-restored nulls); a bare to_datetime
                    # would read the integers as NANOseconds and emit
                    # 1970-era garbage (caught by row_number content
                    # emission of a raw ts column)
                    frame[name] = pd.to_datetime(frame[name], unit="us")
                else:
                    frame[name] = pd.to_datetime(frame[name])
            elif (
                isinstance(t, _INT_TYPES)
                and getattr(vals.dtype, "kind", "") == "f"
            ):
                # float results (integer avg, all-null frames -> NaN)
                # destined for an integral column: truncate toward zero
                # and keep NaN as SQL null — an unguarded NaN->int64
                # cast is UB and lands on INT64_MIN
                tr = np.trunc(vals.to_numpy(dtype="float64"))
                frame[name] = pd.array(
                    [None if np.isnan(x) else int(x) for x in tr], dtype="Int64"
                )
            elif (
                isinstance(t, _INT_TYPES)
                and getattr(vals.dtype, "kind", "") == "i"
                and (vals.to_numpy() == _LONG_NULL).any()
            ):
                # buffered nullable longs carry the int64 null sentinel
                # (nullable lag/latest outputs and null source longs in
                # content emission): restore SQL nulls on the way out
                frame[name] = pd.array(vals.to_numpy(), dtype="Int64")
                frame[name] = frame[name].mask(vals.to_numpy() == _LONG_NULL, pd.NA)
        return frame[[f.name for f in out_fields]]

    def sink_frame(sink: dict, key) -> Optional[pd.DataFrame]:
        n_out = len(next(iter(sink.values()))) if sink else 0
        if not n_out:
            return None
        return emit_frame({c: pd.Series(v) for c, v in sink.items()}, n_out, key)

    # ------------------------------------------------------------------ #
    def fn_count(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        slots, buf = load_state(state)
        buf = append_rows(buf, read_batch(pdfs, slots))
        n_win = len(buf[ts_col]) // n
        first = slots["emitted"]
        out = None
        if n_win and (emit_content or keep_col or sub_list):
            sink = new_sink()
            for w in range(n_win):
                win = {c: buf[c][w * n : (w + 1) * n] for c in buffered}
                if keep_col is not None:
                    # WHERE above the window: windows fill from ALL rows,
                    # the predicate prunes each window's CONTENT, an
                    # all-pruned window drops whole (still consuming its
                    # wid) — the streaming analog of the batch deferred-
                    # WHERE rule
                    kmask = win[keep_col].astype(bool)
                    if not kmask.any():
                        continue
                    win = {c: win[c][kmask] for c in buffered}
                reduce_window(win, sink, wid=first + w)
            out = sink_frame(sink, key)
        elif n_win:
            # fast path: every full window reduces at once over a reshape
            out_cols = {}
            if emit_wid:
                out_cols["wid"] = np.arange(first, first + n_win, dtype="int64")
            for a in agg_list:
                src = a.in_col or ts_col
                mat = buf[src][: n_win * n].reshape(n_win, n)
                res = _reduce_matrix(a.op, mat, buf_types.get(src, T.DoubleType()))
                if a.op == "collect" and _is_ts(buf_types.get(src, T.DoubleType())):
                    res = [list(pd.to_datetime(pd.Series(list(lst)), unit="us")) for lst in res]
                    out_cols[a.out] = res
                else:
                    out_cols[a.out] = _np_to_out(res, out_types[a.out]) if a.op in _PICK_OPS + ("sum",) else res
            out = emit_frame(out_cols, n_win, key)
        slots["emitted"] = first + n_win
        save_state(state, slots, {c: buf[c][n_win * n :] for c in buffered})
        if out is not None:
            yield out

    # ------------------------------------------------------------------ #
    def fn_state(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        slots, buf = load_state(state)
        batch = read_batch(pdfs, slots)
        sink = new_sink()
        m = len(batch)
        if m:
            rows = batch_arrays(batch)
            bflags = batch[begin_col].to_numpy(dtype="bool")
            eflags = batch[emit_col].to_numpy(dtype="bool") if emit_col else ~bflags
        single = emit_col is None  # island mode: run of begin-true rows
        pos = 0
        while pos < m:
            if not slots["is_open"]:
                later = bflags[pos:]
                if not later.any():
                    break
                pos += int(np.argmax(later))
                slots["is_open"] = True
                buf = {c: _empty_np(_state_elem_type(buf_types[c])) for c in buffered}
            # window open: find the closing row at/after pos (island mode:
            # the first false row, excluded; else the emit row, included)
            closes = ~bflags[pos:] if single else eflags[pos:]
            if not closes.any():
                buf = {c: np.concatenate([buf[c], rows[c][pos:]]) for c in buffered}
                break
            next_pos = pos + int(np.argmax(closes)) + (0 if single else 1)
            win = {c: np.concatenate([buf[c], rows[c][pos:next_pos]]) for c in buffered}
            reduce_window(win, sink, wid=slots["emitted"])
            slots["emitted"] += 1
            slots["is_open"] = False
            buf = {c: _empty_np(_state_elem_type(buf_types[c])) for c in buffered}
            pos = next_pos
        save_state(state, slots, buf)
        out = sink_frame(sink, key)
        if out is not None:
            yield out

    # ------------------------------------------------------------------ #
    def _session_bounds(ts_arr: np.ndarray, total: int):
        """Greedy close scan with close evidence per the reference
        (window_op.go:304-347): a session closes at r = min(prev+timeout
        if the gap splits, the cap tick if an event passes it) — strict
        ``>`` on the tick, so an event exactly AT it stays (inclusive
        close, window_op.go:322).  Returns (closed bounds with their
        close time, tail start, tail's would-be close time)."""
        bounds: list[tuple[int, int, int]] = []
        cur = 0
        close_tick = (int(ts_arr[0]) // cap_us + 2) * cap_us
        for i in range(1, total):
            t, prev = int(ts_arr[i]), int(ts_arr[i - 1])
            gap_c = prev + timeout_us if t - prev > timeout_us else None
            tick_c = close_tick if t > close_tick else None
            if gap_c is not None or tick_c is not None:
                c_us = min(x for x in (gap_c, tick_c) if x is not None)
                bounds.append((cur, i, c_us))
                cur = i
                close_tick = (t // cap_us + 2) * cap_us
        open_close = min(int(ts_arr[total - 1]) + timeout_us, close_tick)
        return bounds, cur, open_close

    def _ws_chain(ts_arr, bounds, cur, ws_stored: int):
        """Window starts per the reference: an island's first session
        opens at its first event, a cap-split follow-up opens AT the
        previous close tick (window_op.go:404 vs :734).  ``ws_stored``
        carries the open session's start across batches; a late arrival
        that sorts before it falls back to the first-event rule."""
        first = int(ts_arr[0])
        ws0 = ws_stored if 0 <= ws_stored <= first else first
        ws_list: list[int] = []
        prev_close = None
        for k, (s, _e, c_us) in enumerate(bounds):
            if k == 0:
                ws_list.append(ws0)
            else:
                tick_split = int(ts_arr[s]) - int(ts_arr[s - 1]) <= timeout_us
                ws_list.append(prev_close if tick_split else int(ts_arr[s]))
            prev_close = c_us
        if bounds:
            tick_split = cur > 0 and int(ts_arr[cur]) - int(ts_arr[cur - 1]) <= timeout_us
            tail_ws = prev_close if tick_split else int(ts_arr[cur])
        else:
            tail_ws = ws0
        return ws_list, tail_ws

    def close_sessions(buf: dict, slots: dict, limit: Optional[int], sink: dict):
        """Emit the buffered sessions that have closed, oldest first, and
        return (first row still buffered, close times still pending).
        ``limit=None`` is the eager discipline: every session a later
        event proves closed emits and the open tail stays.  Otherwise a
        session — the tail included — emits once its close time is at or
        below ``limit`` (the watermark), stopping at the first that is
        not.  Advances slots' window counter and open-session start."""
        ts_arr = buf[ts_col]
        total = len(ts_arr)
        bounds, cur, open_close = _session_bounds(ts_arr, total)
        ws_list, tail_ws = _ws_chain(ts_arr, bounds, cur, slots["ws_open"])
        sessions = [b + (ws,) for b, ws in zip(bounds, ws_list)]
        sessions.append((cur, total, open_close, tail_ws))
        k = 0
        while k < len(sessions) and (
            k < len(sessions) - 1 if limit is None else sessions[k][2] <= limit
        ):
            s, e, c_us, ws = sessions[k]
            win = {c: buf[c][s:e] for c in buffered}
            reduce_window(win, sink, wid=slots["emitted"], ws_us=ws, we_us=c_us)
            slots["emitted"] += 1
            k += 1
        if k == len(sessions):
            slots["ws_open"] = tail_ws
            return total, []
        slots["ws_open"] = sessions[k][3]
        return sessions[k][0], [c_us for _, _, c_us, _ in sessions[k:]]

    def fn_session(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        """Capped SESSIONWINDOW(unit, length=cap, interval=timeout) —
        reference window_op.go:304-347.

        State = rows of sessions not yet sealed; closed sessions emit and
        leave state.  Two closing disciplines:

        - eager (default, processing-order): a session emits as soon as a
          buffered event proves its close — right for in-order replays
          and the availableNow driver contract;
        - watermark-gated (``watermark_gated=True``, set when the rule
          has a late-tolerance): rows below the watermark DROP (the
          reference's watermark filter), and a session emits only once
          the watermark passes its close time, so out-of-order events
          inside the tolerance still join their session (the reference's
          event_window_trigger discipline).  The trailing session closes
          by watermark too (event-time analog of the wall-clock ticker);
          an EventTimeTimeout re-fires the function when the watermark
          advances past a pending close with no new data.

        ``flush_open_ms`` (processing-time flush of a quiet key's open
        session) applies to the eager discipline only: its timeout closes
        the whole open session like the reference's wall-clock timer.
        """
        wm_us: Optional[int] = None
        if watermark_gated:
            wm_us = int(state.getCurrentWatermarkMs()) * (1 if unit_ms else 1000)
        timed_out = state.hasTimedOut
        slots, buf = load_state(state)
        if not timed_out:
            buf = append_rows(buf, read_batch(pdfs, slots, wm_us))
        if not len(buf[ts_col]):
            save_state(state, slots, buf)
            return
        # a late-but-in-tolerance arrival may sort before carried rows
        perm = np.argsort(buf[ts_col], kind="stable")
        buf = {c: buf[c][perm] for c in buffered}
        limit = wm_us
        if timed_out and wm_us is None:
            limit = np.iinfo("int64").max  # processing-time flush
        sink = new_sink()
        keep_from, pending = close_sessions(buf, slots, limit, sink)
        buf = {c: buf[c][keep_from:] for c in buffered}
        slots["is_open"] = len(buf[ts_col]) > 0
        # a timeout close keeps the key's state row like any other close:
        # its emitted counter and fused analytic state carry to the key's
        # next session
        save_state(state, slots, buf)
        if slots["is_open"] and watermark_gated:
            state.setTimeoutTimestamp(
                min(pending) if unit_ms else min(pending) // 1000
            )
        elif slots["is_open"] and flush_open_ms:
            state.setTimeoutDuration(int(flush_open_ms))
        out = sink_frame(sink, key)
        if out is not None:
            yield out

    # ------------------------------------------------------------------ #
    # sliding windows
    # ------------------------------------------------------------------ #
    def _gap_gate(cand_ts, flags, slots: dict):
        """Sequential hit gate over trigger CANDIDATES in event order
        (OVER(WHEN [flag AND] ts - last_hit_time() > K)): keep candidate
        i iff its flag holds AND ts - lastHit clears K; lastHit advances
        only on keeps (funcs_global_state.go — state updates on emission,
        not per candidate) and persists in the ``lhit`` slot."""
        k_, ge_ = gap_throttle
        keep = np.zeros(len(cand_ts), dtype=bool)
        lh = slots["lhit"]
        for i in range(len(cand_ts)):
            if flags is not None and not bool(flags[i]):
                continue
            g = int(cand_ts[i]) - lh
            if (g >= k_) if ge_ else (g > k_):
                keep[i] = True
                lh = int(cand_ts[i])
        slots["lhit"] = lh
        return keep

    def trigger_frames(ts_arr, cand, flags, kmask, slots: dict, delay: int = 0):
        """The triggers that fire among candidate positions ``cand`` (event
        order) and their frames, as (positions, frame starts, frame
        ends).  A candidate fires if its flag holds — through the gap
        gate when the window is throttled, applied before frame pruning
        because an all-pruned hit still advances lastHit — and its frame
        keeps a row (an all-pruned frame drops whole).  The frame is
        [t-length, t+delay): left-INCLUSIVE (handleInputs keeps ts >=
        left, window_op.go:641-647), right-EXCLUSIVE when delay > 0
        (window_op.go:571-573), and with delay 0 it ends at t including
        every row with the same timestamp."""
        if gap_throttle is not None:
            fire = _gap_gate(ts_arr[cand], flags, slots)
        else:
            fire = np.ones(len(cand), dtype=bool) if flags is None else flags
        idx = cand[fire]
        t = ts_arr[idx]
        left = np.searchsorted(ts_arr, t - length_us, side="left")
        right = np.searchsorted(ts_arr, t + delay, side="right" if delay == 0 else "left")
        if kmask is not None:
            kcs = np.concatenate([[0], np.cumsum(kmask.astype("int64"))])
            sel = kcs[right] > kcs[left]
            idx, left, right = idx[sel], left[sel], right[sel]
        return idx, left, right

    def frame_rows(full: dict, lo: int, hi: int, kmask) -> dict:
        sl = slice(int(lo), int(hi))
        if kmask is None:
            return {c: full[c][sl] for c in buffered}
        return {c: full[c][sl][kmask[sl]] for c in buffered}

    def fn_sliding_delay(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        """SLIDINGWINDOW(unit, length, delay): a row's emission fires once
        event time passes t+delay; its frame is [t-length, t+delay)
        (window_op.go sliding delay scheduling, event-time analog).  Rows
        later than the delay horizon are dropped (watermark semantics);
        trailing rows whose trigger never passes stay pending.

        watermark_gated (isEventTime rules): triggers fire only once the
        WATERMARK passes t+delay — the reference's event_window_trigger
        discipline (window_rule_test.go Interval11/12); without a
        watermark the next covering ARRIVAL fires the trigger.  The
        ``emitted`` slot stores the emission threshold either way.
        """
        slots, buf = load_state(state)
        wm_val: Optional[int] = None
        if watermark_gated:
            wm_val = int(state.getCurrentWatermarkMs()) * (1 if unit_ms else 1000)
        n_old = len(buf[ts_col])
        full = append_rows(buf, read_batch(pdfs, slots, wm_val))
        total = len(full[ts_col])
        if not total:
            save_state(state, slots, buf)
            return
        perm = np.argsort(full[ts_col], kind="stable")
        full = {c: full[c][perm] for c in buffered}
        from_old = (np.arange(total) < n_old)[perm]
        ts_arr = full[ts_col]
        max_seen = int(slots["emitted"])
        if wm_val is not None:
            # threshold = the watermark: trigger t emits once
            # wm >= t + delay; the stored slot carries the last threshold
            old_thr = max_seen
            new_thr = new_max = max(wm_val - delay_us, old_thr)
        else:
            new_max = max(max_seen, int(ts_arr.max()))
            old_thr, new_thr = max_seen - delay_us, new_max - delay_us
        already = from_old & (ts_arr <= old_thr)
        ready = np.nonzero((ts_arr <= new_thr) & ~already)[0]
        # only throttled or sub-grouped triggers filter on the WHEN flag
        # here; otherwise __trig rides out as a passthrough column
        flags = (
            np.asarray(full["__trig"], dtype="bool")[ready]
            if "__trig" in buffered and (gap_throttle is not None or sub_list)
            else None
        )
        dkmask = full[keep_col].astype(bool) if keep_col else None
        idx, left, right = trigger_frames(ts_arr, ready, flags, dkmask, slots, delay_us)
        out = None
        if len(idx) and sub_list:
            # GROUP BY dims over delayed/watermark-gated frames: each
            # ready trigger's frame [t-L, t+D) sub-groups by the dims
            # (same window-then-aggregate order as the no-delay path)
            sink = new_sink()
            for i, lo, hi in zip(idx, left, right):
                reduce_window(frame_rows(full, lo, hi, dkmask), sink, et_us=int(ts_arr[i]))
            out = sink_frame(sink, key)
        elif len(idx) and not agg_list:
            # non-aggregated delayed/gated sliding: emit the FRAME
            # CONTENT per trigger (the reference's window-collection
            # emission — TestSlidingDelay's 4-row frame, Interval12's
            # growing frames); __-prefixed pass cols (__trig/__et)
            # replicate the trigger row's value
            rows_idx = np.concatenate([np.arange(lo, hi) for lo, hi in zip(left, right)])
            trig_rep = np.repeat(idx, (right - left).astype("int64"))
            if dkmask is not None:
                sel = dkmask[rows_idx]
                rows_idx, trig_rep = rows_idx[sel], trig_rep[sel]
            out_cols = {}
            for c in pass_list:
                v = full[c][trig_rep if c.startswith("__") else rows_idx]
                out_cols[c] = pd.to_datetime(v.astype("int64"), unit="us") if _is_ts(buf_types[c]) else v
            if len(rows_idx):
                out = emit_frame(out_cols, len(rows_idx), key)
        elif len(idx):
            out_cols = {}
            for a in agg_list:
                if a.op in ("min", "max"):
                    vals = _f64_nulls(full[a.in_col], buf_types[a.in_col])
                    if dkmask is not None:
                        vals = np.where(dkmask, vals, np.nan)
                    res = _range_extrema(vals, left, right, a.op)
                    # all-null frame → NaN; NaN.astype(int64) is INT64_MIN,
                    # so keep it null instead of casting the raw array
                    nanmask = np.isnan(res)
                    if _is_ts(buf_types[a.in_col]):
                        ts = pd.to_datetime(
                            np.where(nanmask, 0, res).astype("int64"), unit="us"
                        )
                        res = pd.Series(ts).mask(nanmask, pd.NaT)
                    elif isinstance(out_types[a.out], T.LongType):
                        res = pd.Series(
                            np.where(nanmask, 0, res).astype("int64"),
                            dtype="Int64",
                        ).mask(nanmask, pd.NA)
                else:
                    # prefix sums; count(*) counts every (kept) frame row
                    vals = (
                        np.zeros(total)
                        if a.in_col is None
                        else _f64_nulls(full[a.in_col], buf_types[a.in_col])
                    )
                    if dkmask is not None:
                        vals = np.where(dkmask, vals, np.nan)
                    ok = ~np.isnan(vals)
                    ccs = np.concatenate([[0], np.cumsum(ok.astype("int64"))])
                    scs = np.concatenate([[0.0], np.cumsum(np.where(ok, vals, 0.0))])
                    cnt = ccs[right] - ccs[left]
                    sm = scs[right] - scs[left]
                    if a.op == "count":
                        res = cnt.astype("int64")
                    elif a.op == "sum":
                        res = sm.astype("int64") if isinstance(out_types[a.out], T.LongType) else sm
                    else:  # avg
                        res = np.where(cnt > 0, sm / np.maximum(cnt, 1), np.nan)
                out_cols[a.out] = res
            first_pos = left
            if dkmask is not None and any(
                not c.startswith("__") for c in pass_list
            ):
                # first KEPT row at/after the frame start (frames are
                # non-empty after the all-pruned selection)
                kpos = np.nonzero(dkmask)[0]
                first_pos = kpos[np.searchsorted(kpos, left, side="left")]
            for c in pass_list:
                # aggregated delayed sliding: raw columns take the first
                # frame row's value; __-prefixed pass cols (__trig/__et)
                # stay trigger-row-local
                v = full[c][idx] if c.startswith("__") else full[c][first_pos]
                out_cols[c] = pd.to_datetime(v.astype("int64"), unit="us") if _is_ts(buf_types[c]) else v
            out = emit_frame(out_cols, len(idx), key)
        kept = {c: full[c][ts_arr >= new_thr - length_us] for c in buffered}
        if not len(kept[ts_col]) and wm_val is not None:
            state.remove()
        else:
            slots["emitted"] = new_max
            save_state(state, slots, kept)
            pend = kept[ts_col][kept[ts_col] > new_thr]
            if wm_val is not None and len(pend):
                # pending triggers fire on watermark advance, not on the
                # next arrival — arm an event-time timeout at the next
                # trigger close (the session discipline; state.update
                # clears any armed timeout)
                close = int(pend.min()) + delay_us
                state.setTimeoutTimestamp(
                    (close if unit_ms else close // 1000) - 1
                )
        if out is not None:
            yield out

    def fn_sliding(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        slots, buf = load_state(state)
        batch = read_batch(pdfs, slots)
        if not len(batch):
            save_state(state, slots, buf)
            return
        n_carry = len(buf[ts_col])
        n_new = len(batch)
        full = append_rows(buf, batch)
        # a late arrival may sort before the carried tail; stable argsort
        # keeps the combined index monotonic (rolling requires it) while the
        # is_new mask keeps emission aligned to this batch's rows
        perm = np.argsort(full[ts_col], kind="stable")
        full = {c: full[c][perm] for c in buffered}
        is_new = (np.arange(n_carry + n_new) >= n_carry)[perm]
        ts_arr = full[ts_col]
        kmask = full[keep_col].astype(bool) if keep_col else None
        if frame_content or sub_list:
            # frame_content (reference non-aggregated sliding): each
            # trigger emits its WHOLE frame's (pruned) content rows — the
            # batch membership join's multiset.  sub_list (reference
            # window-then-aggregate, TestWindowRule4): each trigger's frame
            # groups by the dims — one output row per dim value per
            # trigger; state is global by construction (a trigger needs
            # the full frame); raw columns arrive as per-subgroup `first`
            # specs
            new_pos = np.nonzero(is_new)[0]
            flags = (
                batch["__trig"].to_numpy(dtype="bool")
                if "__trig" in batch.columns
                else None
            )
            idx, left, right = trigger_frames(ts_arr, new_pos, flags, kmask, slots)
            sink = new_sink()
            for i, lo, hi in zip(idx, left, right):
                win = frame_rows(full, lo, hi, kmask)
                if not frame_content:
                    reduce_window(win, sink, et_us=int(ts_arr[i]))
                    continue
                # new rows keep their batch order, so the trigger's batch
                # row is its rank among the new positions
                k = int(np.searchsorted(new_pos, i))
                length = len(win[ts_col])
                for c in pass_list:
                    if c.startswith("__") and c not in buffered:
                        # trigger-row-local (__et window meta): the whole
                        # frame shares the trigger's value
                        sink[c].extend([batch[c].iloc[k]] * length)
                    else:
                        # frame rows carry their own values (raw cols and
                        # fused analytic outputs)
                        sink[c].extend(win[c].tolist())
            out = sink_frame(sink, key)
        else:
            out = rolling_frame(key, batch, full, is_new, kmask, slots)
        # trim the carried buffer to the horizon of the newest row
        # (left-INCLUSIVE frame: a tie with the newest row can still need
        # the row exactly `length` old)
        keep = ts_arr >= int(ts_arr[-1]) - length_us
        save_state(state, slots, {c: full[c][keep] for c in buffered})
        if out is not None:
            yield out

    def rolling_frame(key, batch, full, is_new, kmask, slots) -> Optional[pd.DataFrame]:
        """Aggregated sliding without delay: one output row per new row,
        its aggregates over [t-length, t] from pandas time-based
        ``rolling`` (ties bound by row position)."""
        ts_arr = full[ts_col]
        n_new = int(is_new.sum())
        idx = pd.to_datetime(ts_arr, unit="us")

        def _roll_vals(c: str) -> np.ndarray:
            v = (
                _f64_nulls(full[c], buf_types[c])
                if isinstance(buf_types[c], _INT_TYPES) or _is_ts(buf_types[c])
                else np.asarray(full[c], dtype="float64")
                if np.asarray(full[c]).dtype.kind in ("i", "u", "f", "b")
                else full[c]
            )
            if kmask is not None:
                # WHERE above the window: non-kept rows still trigger
                # frames but are not CONTENT — NaN them out so the
                # NaN-skipping rolling reductions ignore them
                v = np.where(kmask, np.asarray(v, dtype="float64"), np.nan)
            return v

        roll_df = pd.DataFrame(
            # integer agg inputs go through float64 with nulls as NaN so
            # rolling reductions skip them (pandas NaN-skipping = SQL null)
            {
                c: _roll_vals(c)
                for c in buffered
                if (c != ts_col or any(a.in_col == ts_col for a in agg_list))
                and c != keep_col
            },
            index=idx,
        )
        if any(a.in_col is None for a in agg_list):
            # count(*) counts rows, not non-nulls of some column
            roll_df["__one"] = 1.0 if kmask is None else np.where(kmask, 1.0, np.nan)
        if kmask is not None:
            roll_df["__keepn"] = np.where(kmask, 1.0, np.nan)
        # frame [t-length, t]: the reference scan is left-INCLUSIVE
        # (handleInputs keeps ts >= left, window_op.go:641-647;
        # TestSlidingWindowInterval12 pins the boundary)
        roll = roll_df.rolling(pd.Timedelta(microseconds=length_us), closed="both")
        out_cols = {}
        for a in agg_list:
            src = a.in_col if a.in_col is not None else "__one"
            res = _rolling_reduce(roll, src, a.op).to_numpy()[is_new]
            if a.op == "count":
                res = res.astype("int64")
            elif a.op in ("min", "max") and _is_ts(buf_types.get(src, T.DoubleType())):
                res = pd.to_datetime(res, unit="us")  # float NaN -> NaT
            elif a.op in ("sum", "min", "max") and isinstance(out_types[a.out], T.LongType):
                # all-null frame -> NaN; keep it null (NaN->int64 is UB)
                nanmask = np.isnan(res)
                res = pd.Series(
                    np.where(nanmask, 0, res).astype("int64"), dtype="Int64"
                ).mask(nanmask, pd.NA)
            out_cols[a.out] = res
        # stable argsort keeps the new rows in batch-sorted relative order,
        # so res[is_new] aligns 1:1 with the sorted batch's rows
        an_pass = {s.out for s in pre_an}
        if agg_list and any(
            not c.startswith("__") or c in an_pass for c in pass_list
        ):
            # first-of-frame raw columns: the frame [t-L, t] starts at the
            # first buffered index with us >= t - L.  With a content
            # filter, "first" means the first KEPT frame row
            new_ts = ts_arr[is_new]
            if kmask is None:
                src_full = full
                left_idx = np.searchsorted(ts_arr, new_ts - length_us, side="left")
            else:
                src_full = {c: full[c][kmask] for c in buffered}
                kept_ts = ts_arr[kmask]
                left_idx = np.searchsorted(kept_ts, new_ts - length_us, side="left")
                left_idx = np.minimum(left_idx, max(len(kept_ts) - 1, 0))
        for c in pass_list:
            if (c.startswith("__") and c not in an_pass) or not agg_list:
                # __-prefixed pass cols are trigger-row locals (__trig,
                # __et); plain raw cols AND fused analytic outputs take
                # the first (kept) frame row's value (ProjectOp reads the
                # collection's Content[0] in aggregate context)
                out_cols[c] = batch[c].values
            else:
                vals = src_full[c][left_idx] if len(src_full[ts_col]) else np.empty(0, dtype=full[c].dtype)
                out_cols[c] = (
                    pd.to_datetime(np.asarray(vals).astype("int64"), unit="us")
                    if _is_ts(buf_types.get(c, T.DoubleType()))
                    else vals
                )
        if gap_throttle is not None:
            # gap-gated trigger decision (stateful lastHit) rides the
            # __trig passthrough so the translator's downstream filter
            # drops non-hit rows; computed BEFORE the all-pruned mask —
            # the reference advances lastHit at trigger time even when
            # the frame later prunes empty
            flags_g = (
                batch["__trig"].to_numpy(dtype="bool")
                if "__trig" in batch.columns
                else None
            )
            out_cols["__trig"] = _gap_gate(ts_arr[is_new], flags_g, slots)
        if kmask is not None:
            # a trigger whose frame holds no kept rows drops whole
            # (filter_operator.go:84-87 all-pruned collection)
            emit_mask = roll.count()["__keepn"].to_numpy()[is_new] > 0
            out_cols = {
                k: (
                    np.asarray(v)[emit_mask]
                    if not isinstance(v, pd.Series)
                    else v.reset_index(drop=True)[emit_mask].reset_index(drop=True)
                )
                for k, v in out_cols.items()
            }
            n_new = int(emit_mask.sum())
        return emit_frame(out_cols, n_new, key) if n_new else None

    fn = {
        "count": fn_count,
        "state": fn_state,
        "session": fn_session,
        "sliding": (
            fn_sliding_delay if (delay_us or watermark_gated) else fn_sliding
        ),
    }[kind]
    if dim_list:
        keyed = sdf.groupBy(*dim_list)
    else:
        _warn_global(kind)
        keyed = sdf.withColumn("__k", F.lit(1)).groupBy("__k")
    if kind in ("session", "sliding") and watermark_gated:
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    elif kind == "session" and flush_open_ms:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.NoTimeout
    return keyed.applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf
    )


# --------------------------------------------------------------------------- #
# convenience wrappers (fixed shapes used by tests / __spark_entry__)
# --------------------------------------------------------------------------- #
def count_window_stream(
    sdf: DataFrame,
    n: int,
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming COUNTWINDOW(n): emits one aggregate row per n events.

    Output: (wid, n, sum_v, first_ts, last_ts) — only full windows emit
    (window_op.go TupleList semantics)."""
    out = window_agg_stream(
        sdf,
        "count",
        n=n,
        order_cols=(ts_col, id_col),
        aggs=(
            AggSpec("count", None, "n"),
            AggSpec("sum", val_col, "sum_v"),
            AggSpec("min", ts_col, "first_ts"),
            AggSpec("max", ts_col, "last_ts"),
        ),
        emit_wid=True,
    )
    return out.select("wid", "n", F.col("sum_v").cast("double"), "first_ts", "last_ts")


def state_window_stream(
    sdf: DataFrame,
    begin_col: str,
    emit_col: str,
    partition_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    val_col: str = "value",
    state_max_rows: int = 1_000_000,
) -> DataFrame:
    """Streaming STATEWINDOW(begin, emit, partition)
    (window_v2_op.go:124-247): per key, a window opens at the first
    begin-row, buffers rows, and emits aggregates at the emit-row; the
    open-window buffer carries across micro-batches in state.

    Output: (part, n, sum_v, w_open, w_close)."""
    out = window_agg_stream(
        sdf,
        "state",
        begin_col=begin_col,
        emit_col=emit_col,
        dims=(partition_col,),
        order_cols=(ts_col, id_col),
        aggs=(
            AggSpec("count", None, "n"),
            AggSpec("sum", val_col, "sum_v"),
            AggSpec("min", ts_col, "w_open"),
            AggSpec("max", ts_col, "w_close"),
        ),
        state_max_rows=state_max_rows,
    )
    return out.select(
        F.col(partition_col).cast("long").alias("part"),
        "n",
        F.col("sum_v").cast("double").alias("sum_v"),
        "w_open",
        "w_close",
    )


def sliding_window_stream(
    sdf: DataFrame,
    length_sec: float,
    ts_col: str = "ts",
    id_col: str = "event_id",
    val_col: str = "value",
) -> DataFrame:
    """Streaming SLIDINGWINDOW: per-event emission of aggregates over
    (t - length, t], with the in-horizon row buffer carried in state
    (window_op.go:593-619 per-event sliding emission).

    Output: (event_id, n_w, sum_w) per input row."""
    out = window_agg_stream(
        sdf,
        "sliding",
        length_us=int(length_sec * 1_000_000),
        order_cols=(ts_col, id_col),
        aggs=(AggSpec("count", val_col, "n_w"), AggSpec("sum", val_col, "sum_w")),
        passthrough=(id_col,),
    )
    return out.select(id_col, "n_w", F.col("sum_w").cast("double").alias("sum_w"))

"""Stateful window JOIN ops: the streaming N-stream sliding chain and
the COUNT-window chain (streaming and batch).

Reference: the window op batches tuples from ALL streams and every
arrival triggers a scan (window_op.go:593-619); JoinOp then joins within
each window's contents left to right (evalJoinSets,
join_operator.go:282-398).  The Spark analog for TUMBLING/HOPPING is a
watermarked bucket equi-join, but a per-event sliding frame or a count
window has no bucket Spark state eviction can key on — so these ops
mirror the reference's single-process window+join chain directly: the
streams union into ONE tagged frame (``__src`` = S0..Sn, ``__u`` event
time or arrival sequence), a stateful operator (single state partition,
loudly warned by the caller — exactly the reference's process model)
buffers what the next window still needs, and each window's contents
join through pandas merges on the natively precomputed equi keys
(``_join_chain``).  Two streams are the N=2 case of the same chain.

All three ops share one window emission (``_WindowJoin``): GROUP BY dims
via ``subgroups`` (single-side dims compute natively upstream; MIXED-side
dims as pdeval ``merged_cols`` closures over the joined frame), HAVING via
in-op aggregate specs (aggregate mode) or attached per-window
aggregate/first-row columns (content mode, incl. raw-column gates), WHERE
above the join via per-side keep flags (``pair_keep``, INNER/CROSS) or a
general ``where_filter`` lane over the joined rows (mixed-side / OUTER
kinds), non-equi ON via a per-step ``on_fn`` lane with null-extension,
mixed-side aggregate inputs via ``merged_cols``, and the aggregate set
count/sum/avg/min/max/first/stddev/stddevs/var/vars/median/collect/
last_value/percentile_cont/percentile_disc.

The sliding chain adds window ``delay`` via pending triggers, OVER(WHEN)
flags and gap-throttles, and last_hit_count() WHERE conjuncts that gate
the emission sequence in-op (``hit_count_filter`` + a persisted
counter); last_hit_time() over a JOINED collection is an ERROR in the
reference itself (JoinTuple rows carry no event_time FuncValue,
row.go:549-556) and raises the same message in both modes here.

Remaining raises live in the translator: expressions outside the pdeval
subset in in-op positions, and aggregate functions beyond the list
above.  Batch sliding joins run natively (translator._batch_sliding_join).
"""
from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


@dataclass
class JoinAggSpec:
    op: str              # count | sum | avg | min | max | first | stddev |
                         # stddevs | var | vars | median | collect |
                         # last_value | percentile_cont | percentile_disc
    in_col: Optional[str]  # None => count(*)
    out: str
    arg: object = None   # op-specific extra: percentile p, last_value
                         # ignoreNull flag


def _pd_agg(merged: pd.DataFrame, spec: JoinAggSpec):
    if spec.op == "count":
        if spec.in_col is None:
            return len(merged)
        return int(merged[spec.in_col].count())
    s = merged[spec.in_col]
    if spec.op == "first":
        return None if not len(s) else s.iloc[0]
    if spec.op == "last_value":
        # (col, ignoreNull) — funcs_agg.go:371
        if not len(s):
            return None
        if spec.arg:
            sn = s.dropna()
            return None if not len(sn) else sn.iloc[-1]
        v = s.iloc[-1]
        return None if pd.isna(v) else v
    if spec.op == "collect":
        # window-order values; Spark collect_list skips nulls (batch oracle)
        return [v for v in s.tolist() if not pd.isna(v)]
    if spec.op == "median":
        # reference median of an empty/all-ignored collection is 0
        sn = s.dropna()
        return 0.0 if not len(sn) else float(sn.median())
    if s.isna().all():
        return None
    if spec.op == "sum":
        return s.sum()
    if spec.op == "avg":
        return s.mean()
    if spec.op == "min":
        return s.min()
    if spec.op == "max":
        return s.max()
    sn = pd.to_numeric(s.dropna(), errors="coerce")
    if spec.op == "stddev":       # population (F.stddev_pop, batch path)
        return float(np.std(sn.to_numpy(dtype="float64"), ddof=0))
    if spec.op == "stddevs":      # sample; single value -> NaN like Spark
        return float(np.std(sn.to_numpy(dtype="float64"), ddof=1)) if len(sn) > 1 else float("nan")
    if spec.op == "var":
        return float(np.var(sn.to_numpy(dtype="float64"), ddof=0))
    if spec.op == "vars":
        return float(np.var(sn.to_numpy(dtype="float64"), ddof=1)) if len(sn) > 1 else float("nan")
    if spec.op == "percentile_cont":
        # montanaflynn/stats Percentile (funcs_agg.go:298-334): index =
        # p*n over sorted values; whole -> v[index], fractional -> mean of
        # v[floor], v[floor+1] (1-based) — matches the batch registry
        v = np.sort(sn.to_numpy(dtype="float64"))
        n2, p = len(v), float(spec.arg)
        if n2 == 1:
            return float(v[0])
        idx = p * n2
        i = int(math.floor(idx))
        if i < 1 or (idx != i and i >= n2):
            # montanaflynn BoundsErr propagates as a rule error in the
            # reference ("run aggregate function percentile error",
            # funcs_agg.go:298-334) — not a null value
            raise ValueError(
                f"run aggregate function percentile error: "
                f"input is outside of range (p={p}, n={n2})"
            )
        if idx == i:
            return float(v[i - 1])
        return float((v[i - 1] + v[i]) / 2.0)
    if spec.op == "percentile_disc":
        # smallest v with cume_dist(v) >= p (funcs_agg.go:335-370)
        v = np.sort(sn.to_numpy(dtype="float64"))
        idx = max(1, int(math.ceil(float(spec.arg) * len(v))))
        return float(v[idx - 1])
    raise ValueError(f"unsupported streaming join aggregate {spec.op}")


def _spec_out_type(a: JoinAggSpec, types: dict) -> T.DataType:
    """Output Spark type of a join aggregate spec."""
    if a.op == "count":
        return T.LongType()
    if a.op in (
        "avg", "stddev", "stddevs", "var", "vars", "median",
        "percentile_cont", "percentile_disc",
    ):
        return T.DoubleType()
    if a.op == "collect":
        return T.ArrayType(types[a.in_col])
    return types[a.in_col]


def _state_lists(keep: pd.DataFrame, cols: Sequence[str], types: dict) -> list:
    """Column value-lists for ``state.update`` with dtype repair: Arrow
    hands nullable long columns to pandas as float64 (NaN for null), and
    after a carry/batch concat they can also arrive as object columns
    holding np.float64 — Spark's state serializer silently NULLS any
    non-int value bound for an integral ArrayType field, so every
    integer-typed buffer column must go back to int/None here.  (Losing
    this repair drops all long columns — join keys included — from rows
    that survive a micro-batch boundary; caught by the 3-stream chain's
    cross-micro-batch pin.)"""
    int_t = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    out: list = []
    for c in cols:
        if not len(keep):
            out.append([])
        elif isinstance(types[c], int_t):
            out.append([None if pd.isna(x) else int(x) for x in keep[c]])
        else:
            out.append(keep[c].tolist())
    return out


def _merge_one(
    lf: pd.DataFrame,
    rf: pd.DataFrame,
    how: str,
    lk: Sequence[str],
    rk: Sequence[str],
) -> pd.DataFrame:
    """One pandas merge with SQL null-key semantics (nulls never match,
    preserved sides keep their null-keyed rows)."""
    if how == "cross":
        if not len(lf) or not len(rf):
            return lf.iloc[0:0].merge(rf.iloc[0:0], how="cross")
        return lf.merge(rf, how="cross")
    lk, rk = list(lk), list(rk)
    lfn = lf.dropna(subset=lk)
    rfn = rf.dropna(subset=rk)
    if how == "inner":
        return lfn.merge(rfn, left_on=lk, right_on=rk, how="inner")
    if how == "left":
        return lf.merge(rfn, left_on=lk, right_on=rk, how="left")
    if how == "right":
        return lfn.merge(rf, left_on=lk, right_on=rk, how="right")
    base = lfn.merge(rfn, left_on=lk, right_on=rk, how="outer")
    lx = lf[lf[lk].isna().any(axis=1)] if len(lf) else lf
    rx = rf[rf[rk].isna().any(axis=1)] if len(rf) else rf
    return pd.concat([base, lx, rx], ignore_index=True)


def _merge_on(
    lf: pd.DataFrame,
    rf: pd.DataFrame,
    how: str,
    lk: Sequence[str],
    rk: Sequence[str],
    on_fn,
) -> pd.DataFrame:
    """Join with a general ON condition: candidate pairs form from the
    equi subset (or the full cross product when the ON has no equi
    conjunct), the residual condition filters them (pdeval lane, null ->
    no match), and preserved sides null-extend their unmatched rows —
    the reference's per-kind match loop (join_operator.go:150-398)."""
    from ekuiper_spark.streaming.pdeval import filter_mask

    lf2 = lf.reset_index(drop=True)
    rf2 = rf.reset_index(drop=True)
    lf2 = lf2.assign(__li=np.arange(len(lf2)))
    rf2 = rf2.assign(__ri=np.arange(len(rf2)))
    if lk:
        cand = _merge_one(lf2, rf2, "inner", list(lk), list(rk))
    else:
        cand = _merge_one(lf2, rf2, "cross", [], [])
    if len(cand):
        cand = cand[filter_mask(on_fn(cand))]
    if how in ("inner", "cross"):
        return cand.drop(columns=["__li", "__ri"])
    parts = [cand]
    if how in ("left", "full"):
        unmatched = lf2[~lf2["__li"].isin(cand["__li"])]
        if len(unmatched):
            parts.append(unmatched.reindex(columns=cand.columns))
    if how in ("right", "full"):
        unmatched = rf2[~rf2["__ri"].isin(cand["__ri"])]
        if len(unmatched):
            parts.append(unmatched.reindex(columns=cand.columns))
    parts = [p for p in parts if len(p)]
    if not parts:
        return cand.drop(columns=["__li", "__ri"])
    out = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
    return out.drop(columns=["__li", "__ri"])


class _WindowJoin:
    """One window's join and emission, shared by the window-join ops:
    the output schema, the left-deep chain over a window's rows with the
    WHERE/mixed-side/hit-count lanes, content-or-aggregate emission, and
    the output dtype repair."""

    def __init__(
        self,
        buf_types: dict,
        sides: Sequence[tuple[str, Sequence[str]]],
        joins: Sequence[dict],
        *,
        aggs: Optional[Sequence[JoinAggSpec]],
        attach_aggs: Optional[Sequence[JoinAggSpec]],
        pair_keep: Optional[Sequence[str]],
        subgroups: Sequence[str],
        merged_cols: Optional[Sequence[tuple]],
        merged_types: Optional[dict],
        where_filter,
        hit_count_filter=None,
        bounds: bool = False,
    ) -> None:
        self.sides = [(t, list(c)) for t, c in sides]
        self.joins = [dict(j) for j in joins]
        self.all_cols = [c for _t, cols in self.sides for c in cols]
        self.aggs = list(aggs) if aggs is not None else None
        self.attach = list(attach_aggs) if attach_aggs else []
        self.pair_keep = list(pair_keep) if pair_keep else []
        self.subgroups = list(subgroups)
        self.merged = list(merged_cols) if merged_cols else []
        self.where_filter = where_filter
        self.hit_count_filter = hit_count_filter
        types = {**buf_types, **(merged_types or {})}
        if self.aggs is None:
            fields = [T.StructField(c, buf_types[c], True) for c in self.all_cols]
            specs = self.attach
        else:
            fields = [T.StructField(c, types[c], True) for c in self.subgroups]
            specs = self.aggs
        fields += [T.StructField(a.out, _spec_out_type(a, types), True) for a in specs]
        if bounds:
            fields += [T.StructField("__ws", T.LongType()), T.StructField("__we", T.LongType())]
        self.out_fields = fields
        self.schema = T.StructType(fields)

    def rows(self, frame: pd.DataFrame, hit_state: Optional[dict] = None) -> Optional[pd.DataFrame]:
        """Join one window's rows and return its emission: the joined
        rows (content mode, plus attached window aggregates) or the
        aggregate row(s).  None when nothing survives — an empty join
        emits nothing (join_operator records_out < windows in
        TestWindowRule3)."""
        from ekuiper_spark.streaming.pdeval import filter_mask

        merged = _join_chain(frame, self.sides, self.joins)
        if self.pair_keep and len(merged):
            # WHERE above the join prunes joined PAIRS: keep rows where
            # every per-side flag is true (null -> False)
            keep = np.logical_and.reduce(
                [(merged[c] == True).to_numpy() for c in self.pair_keep]  # noqa: E712
            )
            merged = merged[keep]
        if not len(merged):
            return None
        if self.merged:
            # mixed-side expressions evaluate on the JOINED frame —
            # null-extended rows see nulls, like Catalyst over a join
            merged = merged.copy()
            for name, fnc in self.merged:
                merged[name] = fnc(merged)
        if self.where_filter is not None:
            # FilterPlan > JoinPlan (planner.go:797)
            merged = merged[filter_mask(self.where_filter(merged))]
            if not len(merged):
                return None
        if self.hit_count_filter is not None:
            # last_hit_count gate: the counter ticks for every EVALUATED
            # row, pass or fail, carried across windows and micro-batches
            merged = merged.copy()
            merged["__lhc"] = hit_state["c"] + np.arange(len(merged), dtype="int64")
            hit_state["c"] += len(merged)
            merged = merged[filter_mask(self.hit_count_filter(merged))]
            if not len(merged):
                return None
        if self.aggs is None:
            em = merged.copy()
            for a in self.attach:
                em[a.out] = _pd_agg(merged, a)
            return em
        if self.subgroups:
            return _pd_agg_grouped(merged, self.aggs, self.subgroups)
        return pd.DataFrame({a.out: [_pd_agg(merged, a)] for a in self.aggs})

    def finish(self, out: pd.DataFrame) -> pd.DataFrame:
        """Schema-ordered output columns, with integer columns that
        pandas widened to float (null-extension, concat) turned back
        into nullable ints before the Arrow conversion."""
        int_t = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        for f in self.out_fields:
            if f.name not in out.columns:
                out[f.name] = None
            col = out[f.name]
            if isinstance(f.dataType, int_t) and getattr(col.dtype, "kind", "") == "f":
                out[f.name] = pd.array(
                    [None if pd.isna(x) else int(x) for x in col], dtype="Int64"
                )
        return out[[f.name for f in self.out_fields]]


def sliding_join_chain_stream(
    union_df: DataFrame,
    *,
    length: int,                 # in the __u column's unit (micros)
    sides: Sequence[tuple[str, Sequence[str]]],  # (tag, flat column names)
    joins: Sequence[dict],  # {"how", "lkeys", "rkeys"[, "on_fn"]};
                            # joins[i] attaches sides[i+1] left-deep
    aggs: Optional[Sequence[JoinAggSpec]] = None,
    attach_aggs: Optional[Sequence[JoinAggSpec]] = None,
    delay: int = 0,              # SLIDINGWINDOW(unit, L, D): frame (t-L, t+D]
    throttle: Optional[tuple[int, bool]] = None,  # (K, ge) gap-throttle
    trigger_col: Optional[str] = None,  # per-side OVER(WHEN) flag (other
                                 # streams' fields nil -> false); false
                                 # rows stay frame MEMBERS, never trigger
    pair_keep: Optional[Sequence[str]] = None,
    subgroups: Sequence[str] = (),
    merged_cols: Optional[Sequence[tuple]] = None,
    merged_types: Optional[dict] = None,
    where_filter=None,
    hit_count_filter=None,       # pdeval lane over rows + virtual __lhc
                                 # (count of previously EVALUATED rows;
                                 # advances pass or fail, persisted)
) -> DataFrame:
    """Stateful per-event sliding window over an N-stream (N >= 2) join
    chain.  Every arrival from ANY stream triggers a scan of the frame
    [t-L, t+D) (OVER(WHEN) flags and the sequential gap-throttle gate
    the candidates, isMatchCondition); the left-deep chain joins within
    the frame's contents and emits content rows or per-trigger
    aggregates with __ws/__we bounds.  Single state partition (the
    reference's per-rule process, warned by the caller).

    delay: a trigger at t waits for the frame's right bound — it emits
    once a row with u >= t + delay has been seen (the reference fires a
    wall-clock timer; this op fires on the next covering arrival, so a
    stream tail needs a later event or heartbeat to flush pending
    triggers).

    State: one array per buffered column (__src, __u, every side's
    columns, the trigger flag), then the optional scalars.  A restored
    buffer whose __src tags are not this op's sides is refused — such
    a checkpoint was written by an earlier layout (two-stream joins
    once tagged L/R) and its rows would silently drop out of every
    frame."""
    buf_types = {f.name: f.dataType for f in union_df.schema.fields}
    wj = _WindowJoin(
        buf_types, sides, joins, aggs=aggs, attach_aggs=attach_aggs,
        pair_keep=pair_keep, subgroups=subgroups, merged_cols=merged_cols,
        merged_types=merged_types, where_filter=where_filter,
        hit_count_filter=hit_count_filter, bounds=True,
    )
    own_tags = {t for t, _c in wj.sides}
    buffered = ["__src", "__u"] + wj.all_cols
    if trigger_col is not None:
        buffered.append(trigger_col)
    state_fields = [
        T.StructField(c, T.ArrayType(buf_types[c]), True) for c in buffered
    ]
    # optional scalars ride behind the buffers so feature-off
    # checkpoints keep their layout
    if delay:
        state_fields.append(T.StructField("__pend", T.ArrayType(T.LongType()), True))
    if throttle is not None:
        state_fields.append(T.StructField("__lhit", T.LongType(), True))
    if hit_count_filter is not None:
        state_fields.append(T.StructField("__lhc", T.LongType(), True))
    state_schema = T.StructType(state_fields)
    n_buf = len(buffered)
    thr = throttle

    def _emit(full: pd.DataFrame, t: int, lo: int, hi: int, outs: list,
              hit_state: dict) -> None:
        em = wj.rows(full.iloc[lo:hi], hit_state)
        if em is not None:
            em["__ws"] = t - length
            # with delay the window's right bound is t + D (frame
            # (t-L, t+D]; batch _batch_sliding_join convention)
            em["__we"] = t + delay
            outs.append(em)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        pend: list[int] = []
        lhit = 0
        hit_state = {"c": 0}
        if state.exists:
            vals = state.get
            foreign = set(vals[0] or ()) - own_tags
            if foreign:
                raise RuntimeError(
                    f"sliding-join state holds rows tagged {sorted(foreign)}, "
                    f"not this join's sides {sorted(own_tags)}: the "
                    "checkpoint predates the S0..Sn side layout and cannot "
                    "be read; delete the checkpoint and restart the rule"
                )
            carry = pd.DataFrame({c: pd.Series(list(vals[i] or [])) for i, c in enumerate(buffered)})
            if not len(carry):
                carry = pd.DataFrame({c: pd.Series(dtype="object") for c in buffered})
            pos_extra = n_buf
            if delay:
                pend = list(vals[pos_extra] or [])
                pos_extra += 1
            if thr is not None:
                lhit = int(vals[pos_extra] or 0)
                pos_extra += 1
            if hit_count_filter is not None:
                hit_state["c"] = int(vals[pos_extra] or 0)
        else:
            carry = pd.DataFrame({c: pd.Series(dtype="object") for c in buffered})
        batch = pd.concat(list(pdfs), ignore_index=True)
        n_new = len(batch)
        if n_new:
            batch = batch.sort_values("__u", kind="mergesort").reset_index(drop=True)
        # skip empty frames before concat (pandas deprecates dtype
        # inference over empty/all-NA entries)
        _parts = [p for p in (carry[buffered] if len(carry) else None,
                              batch[buffered] if n_new else None) if p is not None]
        if len(_parts) == 2:
            full = pd.concat(_parts, ignore_index=True)
        elif _parts:
            full = _parts[0].reset_index(drop=True)
        else:
            full = carry[buffered] if set(buffered) <= set(carry.columns) else pd.DataFrame(columns=buffered)

        def save(keep_from_u: int) -> None:
            if len(full):
                u_all = full["__u"].to_numpy(dtype="int64")
                keep = full[u_all >= keep_from_u]
            else:
                keep = full
            vals_out = _state_lists(keep, buffered, buf_types)
            if delay:
                vals_out.append(list(pend))
            if thr is not None:
                vals_out.append(int(lhit))
            if hit_count_filter is not None:
                vals_out.append(int(hit_state["c"]))
            state.update(tuple(vals_out))

        if not len(full):
            save(0)
            return
        order = np.argsort(full["__u"].to_numpy(dtype="float64"), kind="stable")
        full = full.iloc[order].reset_index(drop=True)
        is_new = np.concatenate(
            [np.zeros(len(carry), dtype=bool), np.ones(n_new, dtype=bool)]
        )[order]
        u_arr = full["__u"].to_numpy(dtype="int64")
        outs: list[pd.DataFrame] = []
        # new arrivals become trigger candidates: OVER(WHEN)-false rows
        # stay members, the gap-throttle gates sequentially in merged
        # event order (lastHit starts at Go zero, advances on hits)
        trig_arr = (
            full[trigger_col].to_numpy() if trigger_col is not None else None
        )
        new_ts: list[int] = []
        for pos in np.nonzero(is_new)[0]:
            if trig_arr is not None and not (trig_arr[pos] == True):  # noqa: E712
                continue
            t = int(u_arr[pos])
            if thr is not None:
                k, ge = thr
                gap = t - lhit
                hit = gap >= k if ge else gap > k
                if not hit:
                    continue
                lhit = t
            new_ts.append(t)
        if not delay:
            # frame = ALL rows with u <= t (ties included — equal-time
            # rows from any stream belong to each other's frames)
            for t in new_ts:
                lo = int(np.searchsorted(u_arr, t - length, side="left"))
                hi = int(np.searchsorted(u_arr, t, side="right"))
                _emit(full, t, lo, hi, outs, hit_state)
            keep_from = int(u_arr[-1]) - length
        else:
            # delayed frames [t-L, t+D): a trigger emits once a covering
            # row (u >= t + D) has arrived
            pend.extend(new_ts)
            max_u = int(u_arr[-1])
            ready = sorted(t for t in pend if t + delay <= max_u)
            pend = [t for t in pend if t + delay > max_u]
            for t in ready:
                lo = int(np.searchsorted(u_arr, t - length, side="left"))
                hi = int(np.searchsorted(u_arr, t + delay, side="left"))
                _emit(full, t, lo, hi, outs, hit_state)
            # retain enough history for every pending trigger's left bound
            keep_from = min([max_u - length] + [t - length for t in pend])
        save(keep_from)
        if outs:
            yield wj.finish(pd.concat(outs, ignore_index=True))

    return (
        union_df.withColumn("__g0", F.lit(0))
        .groupBy("__g0")
        .applyInPandasWithState(
            fn, wj.schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def count_join_stream(
    union_df: DataFrame,
    *,
    n: int,
    sides: Sequence[tuple[str, Sequence[str]]],  # (tag, flat column names)
    joins: Sequence[dict],  # {"how", "lkeys", "rkeys"[, "on_fn"]};
                            # joins[i] attaches sides[i+1]
    aggs: Optional[Sequence[JoinAggSpec]] = None,
    attach_aggs: Optional[Sequence[JoinAggSpec]] = None,
    pair_keep: Optional[Sequence[str]] = None,  # per-side bool flags; a
                                 # joined row survives iff every flag is
                                 # true (WHERE above the join, INNER/CROSS)
    subgroups: Sequence[str] = (),  # GROUP BY dims over the joined window
    merged_cols: Optional[Sequence[tuple]] = None,  # [(name, fn)] pdeval
                                 # closures over the joined chain (mixed-
                                 # side dims / aggregate / HAVING inputs)
    merged_types: Optional[dict] = None,
    where_filter=None,           # pdeval lane over the joined chain rows
                                 # (FilterPlan > JoinPlan) — mixed-side /
                                 # OUTER-kind WHERE over aggregated joins
) -> DataFrame:
    """Streaming COUNT window over a MULTI-stream join.

    Reference semantics (planner.go:734-735 allows "a time window or
    count window" for multi-stream joins; window_op.go count windows +
    join_operator.go): the window op batches n tuples from ALL streams
    in arrival order; JoinOp then joins each full window's per-emitter
    groups left-to-right.  Here the packed union carries __src (side
    tag) and __u (arrival sequence); full windows of n rows join with
    pandas merges on natively-precomputed equi keys; partial windows
    carry in state.  Content mode (aggs None) emits the joined rows;
    aggregate mode emits one row per window.  Windows whose join result
    is empty emit nothing but still consume their n rows.

    Single state partition (the reference's per-rule process model),
    warned by the caller; per-window work is bounded by n.
    """
    buf_types = {f.name: f.dataType for f in union_df.schema.fields}
    wj = _WindowJoin(
        buf_types, sides, joins, aggs=aggs, attach_aggs=attach_aggs,
        pair_keep=pair_keep, subgroups=subgroups, merged_cols=merged_cols,
        merged_types=merged_types, where_filter=where_filter,
    )
    buffered = ["__src", "__u"] + wj.all_cols
    state_schema = T.StructType(
        [T.StructField("emitted", T.LongType())]
        + [T.StructField(c, T.ArrayType(buf_types[c]), True) for c in buffered]
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals = state.get
            emitted = int(vals[0] or 0)
            carry = pd.DataFrame({c: pd.Series(list(vals[i + 1] or [])) for i, c in enumerate(buffered)})
        else:
            emitted = 0
            carry = pd.DataFrame({c: pd.Series(dtype="object") for c in buffered})
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["__u", "__src"], kind="mergesort")
            full = pd.concat([carry, batch[buffered]], ignore_index=True)
        else:
            full = carry
        n_win = len(full) // n
        outs: list[pd.DataFrame] = []
        for w in range(n_win):
            em = wj.rows(full.iloc[w * n : (w + 1) * n])
            if em is not None:
                outs.append(em)
        rest = full.iloc[n_win * n :]
        state.update(
            tuple([emitted + n_win] + _state_lists(rest, buffered, buf_types))
        )
        if outs:
            yield wj.finish(pd.concat(outs, ignore_index=True))

    return (
        union_df.withColumn("__g0", F.lit(0))
        .groupBy("__g0")
        .applyInPandasWithState(
            fn, wj.schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def _pd_agg_grouped(
    merged: pd.DataFrame, specs: Sequence[JoinAggSpec], subgroups: Sequence[str]
) -> pd.DataFrame:
    """GROUP BY dims over one window's JOINED content (the reference's
    window-then-join-then-aggregate order): one output row per dim
    value, specs computed over that group's rows only (first = the
    group's first row in scan order); null dim keys group too."""
    g = merged.groupby(list(subgroups), sort=True, dropna=False)
    out = g.size().reset_index()[list(subgroups)]
    cols: dict[str, list] = {a.out: [] for a in specs}
    for _k, grp in g:
        for a in specs:
            cols[a.out].append(_pd_agg(grp, a))
    for a in specs:
        out[a.out] = cols[a.out]
    return out


def _join_chain(
    frame: pd.DataFrame,
    side_list: Sequence[tuple[str, Sequence[str]]],
    join_list: Sequence[dict],
) -> pd.DataFrame:
    """Run the left-to-right merge chain over one window's rows."""
    merged = frame[frame["__src"] == side_list[0][0]][list(side_list[0][1])]
    for i, jn in enumerate(join_list):
        tag, cols = side_list[i + 1]
        rf = frame[frame["__src"] == tag][list(cols)]
        if jn.get("on_fn") is not None:
            # general ON: equi-subset candidates + residual pdeval filter
            # + per-kind null-extension (join_operator.go match loops)
            merged = _merge_on(
                merged, rf, jn["how"], jn["lkeys"], jn["rkeys"], jn["on_fn"]
            )
        else:
            merged = _merge_one(merged, rf, jn["how"], jn["lkeys"], jn["rkeys"])
        if not len(merged) and jn["how"] == "inner":
            break
    return merged


def count_join_batch(
    union_df: DataFrame,
    *,
    n: int,
    sides: Sequence[tuple[str, Sequence[str]]],
    joins: Sequence[dict],
    aggs: Optional[Sequence[JoinAggSpec]] = None,
    attach_aggs: Optional[Sequence[JoinAggSpec]] = None,
    pair_keep: Optional[Sequence[str]] = None,
    subgroups: Sequence[str] = (),
    merged_cols: Optional[Sequence[tuple]] = None,
    merged_types: Optional[dict] = None,
    where_filter=None,
) -> DataFrame:
    """Batch COUNT window over a multi-stream join: the packed union is
    numbered in (arrival, side) order, complete windows of n rows group
    by window id, and each window joins DISTRIBUTED by wid through
    applyInPandas (per-window work bounded by n — the scale axis is the
    number of windows, which shuffles on wid)."""
    from pyspark.sql.window import Window as W

    wj = _WindowJoin(
        {f.name: f.dataType for f in union_df.schema.fields}, sides, joins,
        aggs=aggs, attach_aggs=attach_aggs, pair_keep=pair_keep,
        subgroups=subgroups, merged_cols=merged_cols,
        merged_types=merged_types, where_filter=where_filter,
    )
    w = W.orderBy("__u", "__src")
    df = union_df.withColumn("__rn", F.row_number().over(w) - 1)
    df = df.withColumn("__wid", (F.col("__rn") - F.col("__rn") % n) / n)
    df = df.withColumn("__wn", F.count("*").over(W.partitionBy("__wid")))
    df = df.filter(F.col("__wn") == n).drop("__rn", "__wn")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        em = wj.rows(pdf)
        if em is None:
            return pd.DataFrame({f.name: pd.Series(dtype="object") for f in wj.out_fields})
        return wj.finish(em)

    return df.groupBy("__wid").applyInPandas(fn, wj.schema)

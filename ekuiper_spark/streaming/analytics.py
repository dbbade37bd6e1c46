"""Continuous analytic functions over unbounded streams.

The reference evaluates lag/latest/changed_col/had_changed/changed_cols
and the acc_* accumulators per event against rule state
(internal/topo/operator/analyticfuncs_operator.go + funcs_analytic.go /
funcs_acc.go), keyed by the OVER partition.  Spark's window functions
are batch-only (NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING), so in
streaming mode the translator routes every analytic call in a statement
through ONE ``applyInPandasWithState`` operator built here:

- inputs (arg / WHEN / begin / reset expressions) are computed NATIVELY
  upstream as hidden columns — only the stateful read-modify-write runs
  in Python, Arrow-batched per key;
- state is one pickled dict per key (ring buffers for lag, last values
  for latest/changed, accumulators for acc_*), carried across
  micro-batches through the state store exactly like the other custom
  stateful operators;
- rows keyed by the shared OVER partition distribute; an unpartitioned
  statement runs in one state partition with the standard global-order
  warning (the reference's per-rule process is equally serial).

Semantics mirror the batch translation (pinned by the same reference
vectors): WHEN-false rows READ state and never update it; lag's ring
advances on valid (ignoreNull: non-null) values only; changed state
contracts follow funcs_analytic.go; acc begin/reset follows
funcs_acc.go accFuncWithCond.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass, field as dc_field
from typing import Any, Iterator, Optional

import pandas as pd

try:
    # the state carries object-dtype frames through ffill(); opt in to the
    # future no-silent-downcasting behavior so pandas neither downcasts nor
    # warns (FutureWarning on object-dtype ffill in pandas 2.x)
    pd.set_option("future.no_silent_downcasting", True)
except Exception:  # pragma: no cover - option removed in pandas 3.x
    pass

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ekuiper_spark.streaming.stateful import _warn_global


@dataclass
class AnalyticSpec:
    """One analytic call routed through the stream-state operator."""

    kind: str                       # lag|latest|changed_col|had_changed|acc_*
    out: str                        # output column name
    out_type: T.DataType
    in_cols: list[str] = dc_field(default_factory=list)  # hidden input cols
    when_col: Optional[str] = None  # hidden bool col (OVER WHEN)
    begin_col: Optional[str] = None  # acc begin cond col
    reset_col: Optional[str] = None  # acc reset cond col
    n: int = 1                      # lag depth
    default: Any = None             # lag/latest default
    ign: bool = True                # ignoreNull flag


def _changed_step(st: dict, v: Any, valid: bool, ign: bool) -> bool:
    """Shared changed-state machine (funcs_analytic.go:31-110): returns
    whether the value changed; mutates st = {"has": bool, "val": any}."""
    if not valid:
        return False
    if ign:
        if v is None:
            return False
        changed = (not st["has"]) or v != st["val"]
        if changed:
            st["has"] = True
            st["val"] = v
        return changed
    changed = (not st["has"]) or v != st["val"]
    st["has"] = True
    st["val"] = v
    return changed


def _spec_step(spec: AnalyticSpec, st: dict, row: dict) -> Any:
    """Advance one spec's state by one event; returns the output value.
    The per-event reference for :func:`_vector_spec`, which the operator
    runs; tests compare the two."""
    valid = True
    if spec.when_col is not None:
        valid = bool(row[spec.when_col]) if row[spec.when_col] is not None else False
    k = spec.kind
    if k == "lag":
        ring: list = st.setdefault("ring", [])
        out = ring[-spec.n] if len(ring) >= spec.n else spec.default
        v = row[spec.in_cols[0]]
        if valid and not (spec.ign and v is None):
            ring.append(v)
            del ring[: max(0, len(ring) - spec.n)]
        return out
    if k == "latest":
        v = row[spec.in_cols[0]]
        if valid and v is not None:
            st["val"] = v
        return st.get("val", spec.default)
    if k == "changed_col":
        v = row[spec.in_cols[0]]
        cst = st.setdefault("c", {"has": False, "val": None})
        return v if _changed_step(cst, v, valid, spec.ign) else None
    if k == "had_changed":
        any_changed = False
        for i, c in enumerate(spec.in_cols):
            cst = st.setdefault(f"c{i}", {"has": False, "val": None})
            if _changed_step(cst, row[c], valid, spec.ign):
                any_changed = True
        return any_changed
    if k.startswith("acc_"):
        conditioned = spec.begin_col is not None
        if conditioned:
            # funcs_acc.go accFuncWithCond: inactive resets; begin starts
            # inclusively; reset closes AFTER accumulating its own row
            if not st.get("on", False):
                st.pop("acc", None)
                st.pop("cnt", None)
            b = row[spec.begin_col]
            r = row[spec.reset_col]
            if b and not st.get("on", False):
                st["on"] = True
            active = st.get("on", False)
        else:
            active = True
        v = row[spec.in_cols[0]]
        if active and valid and v is not None:
            if k == "acc_count":
                st["cnt"] = st.get("cnt", 0) + 1
            elif k == "acc_sum":
                st["acc"] = st.get("acc", 0.0) + float(v)
            elif k == "acc_avg":
                st["acc"] = st.get("acc", 0.0) + float(v)
                st["cnt"] = st.get("cnt", 0) + 1
            elif k == "acc_max":
                st["acc"] = max(st.get("acc", float(v)), float(v))
            elif k == "acc_min":
                st["acc"] = min(st.get("acc", float(v)), float(v))
        if conditioned and r and st.get("on", False):
            st["on"] = False
        if conditioned and not active:
            return 0 if k == "acc_count" else 0.0
        if k == "acc_count":
            return st.get("cnt", 0)
        if k == "acc_avg":
            c = st.get("cnt", 0)
            return (st.get("acc", 0.0) / c) if c else 0.0
        return st.get("acc", 0.0)
    raise ValueError(f"unknown analytic kind {k!r}")


def _changed_vec(
    v: pd.Series, st: dict, key: str, ign: bool, mask=None
) -> pd.Series:
    """Vectorized changed-state over one batch with carried state.
    ``mask`` (the OVER WHEN gate) marks the rows that read-and-advance;
    masked-out rows emit False and leave state untouched."""
    import numpy as np

    cst = st.setdefault(key, {"has": False, "val": None})
    carry = cst["val"] if cst["has"] else None
    if mask is None:
        mask = np.ones(len(v), dtype=bool)
    if ign:
        # prev = last VALID (gated, non-null) value before each row
        vm = v.where(pd.Series(mask, index=v.index)).astype("object")
        seq = pd.concat(
            [pd.Series([carry], dtype="object"), vm],
            ignore_index=True,
        ).ffill().astype("object")
        prev = seq.iloc[:-1].reset_index(drop=True)
        valid = mask & v.notna().to_numpy()
        changed = valid & (
            prev.isna().to_numpy()
            | (v.to_numpy(dtype="object") != prev.to_numpy(dtype="object"))
        )
        nn = vm.dropna()
        if len(nn):
            cst["has"] = True
            cst["val"] = nn.iloc[-1]
        return pd.Series(changed, index=v.index)
    # allow-null: state advances on every GATED row (nulls are values);
    # the null-aware compare runs only over the gated subset
    idxs = np.flatnonzero(mask)
    sub = v.to_numpy(dtype="object")[idxs]
    has, val = cst["has"], cst["val"]
    changed_sub = []
    for x in sub:
        xx = None if (isinstance(x, float) and pd.isna(x)) else x
        changed_sub.append((not has) or xx != val)
        has, val = True, xx
    changed = np.zeros(len(v), dtype=bool)
    changed[idxs] = changed_sub
    cst["has"], cst["val"] = has, val
    return pd.Series(changed, index=v.index)


def _acc_segments(on0: bool, b, r):
    """Active SPANS of the begin/reset accumulator state machine
    (funcs_acc.go accFuncWithCond): active_i = on_{i-1} | b_i;
    on_i = active_i & ~r_i.  A reset ends its span AFTER its own row —
    a begin on the very next row opens a NEW span (fresh accumulators),
    so spans are returned explicitly rather than derived from the
    active mask.  Scans only rows where b|r fires; returns
    (spans [(start, end)), on_after_last)."""
    import numpy as np

    m = len(b)
    on = bool(on0)
    start = 0 if on else None
    spans: list[tuple[int, int]] = []
    for i in np.flatnonzero(b | r):
        i = int(i)
        a_i = on or bool(b[i])
        if a_i and start is None:
            start = i
        on = a_i and not bool(r[i])
        if a_i and not on:
            spans.append((start, i + 1))
            start = None
    if on and start is not None:
        spans.append((start, m))
    return spans, on


def _vector_spec(spec: AnalyticSpec, st: dict, batch: pd.DataFrame) -> pd.Series:
    import numpy as np

    k = spec.kind
    m = len(batch)
    v = batch[spec.in_cols[0]] if spec.in_cols else None
    if spec.when_col is not None:
        # == True gives a warning-free bool mask over object dtype
        # (None/NaN compare False)
        wmask = (batch[spec.when_col] == True).to_numpy()  # noqa: E712
    else:
        wmask = np.ones(m, dtype=bool)
    if k == "lag":
        ring: list = st.setdefault("ring", [])
        keep = wmask & (v.notna().to_numpy() if spec.ign else np.ones(m, dtype=bool))
        vals = v.to_numpy(dtype="object")
        arr = list(ring) + [x for x, mk in zip(vals, keep) if mk]
        # count of kept values strictly BEFORE each row
        before = len(ring) + np.concatenate(([0], np.cumsum(keep)[:-1]))
        pos = before - spec.n
        out = [arr[p] if p >= 0 else spec.default for p in pos]
        ring[:] = arr[-spec.n:] if spec.n else []
        return pd.Series(out, index=v.index, dtype="object")
    if k == "latest":
        carry = st.get("val")
        vm = v.where(pd.Series(wmask, index=v.index))
        seq = pd.concat(
            [pd.Series([carry], dtype="object"), vm.astype("object")],
            ignore_index=True,
        ).ffill().astype("object")
        out = seq.iloc[1:].reset_index(drop=True)
        if spec.default is not None:
            out = out.fillna(spec.default)
        nn = vm.dropna()
        if len(nn):
            st["val"] = nn.iloc[-1]
        out.index = v.index
        return out
    if k == "changed_col":
        changed = _changed_vec(v, st, "c", spec.ign, wmask)
        return pd.Series(
            [x if c else None for x, c in zip(v.to_numpy(dtype="object"), changed)],
            index=v.index, dtype="object",
        )
    if k == "had_changed":
        acc = None
        for i, c in enumerate(spec.in_cols):
            ch = _changed_vec(batch[c], st, f"c{i}", spec.ign, wmask)
            acc = ch if acc is None else (acc | ch)
        return acc.astype("object")
    if not k.startswith("acc_"):
        raise ValueError(k)

    # ---- accumulators -----------------------------------------------------
    x = pd.to_numeric(v, errors="coerce")
    xv = x.to_numpy(dtype="float64")
    if k == "acc_count":
        # funcs_acc.go accCountFunc counts ANY non-nil value
        ok = wmask & v.notna().to_numpy()
    else:
        ok = wmask & x.notna().to_numpy()

    if spec.begin_col is None:
        # unconditioned: one always-active segment seeded by carried state
        if k == "acc_count":
            out = np.cumsum(ok) + st.get("cnt", 0)
            st["cnt"] = int(out[-1]) if m else st.get("cnt", 0)
            return pd.Series(out, index=batch.index, dtype="object")
        contrib = np.where(ok, xv, 0.0)
        if k == "acc_sum":
            out = np.cumsum(contrib) + st.get("acc", 0.0)
            if m:
                st["acc"] = float(out[-1])
            return pd.Series(out, index=batch.index, dtype="object")
        if k == "acc_avg":
            ssum = np.cumsum(contrib) + st.get("acc", 0.0)
            cnt = np.cumsum(ok) + st.get("cnt", 0)
            if m:
                st["acc"] = float(ssum[-1])
                st["cnt"] = int(cnt[-1])
            return pd.Series(
                [si / ci if ci else 0.0 for si, ci in zip(ssum, cnt)],
                index=batch.index, dtype="object",
            )
        # acc_max / acc_min: fmax/fmin.accumulate skip NaN holes; rows
        # before any valid value read the carried extremum (or 0.0)
        masked = np.where(ok, xv, np.nan)
        seeded = np.concatenate(([st.get("acc", np.nan)], masked))
        run = (np.fmax if k == "acc_max" else np.fmin).accumulate(seeded)[1:]
        if m and not np.isnan(run[-1]):
            st["acc"] = float(run[-1])
        out = np.where(np.isnan(run), 0.0, run)
        return pd.Series(out, index=batch.index, dtype="object")

    # conditioned (begin/reset): per-active-segment accumulation; the
    # first segment continues the carried accumulators iff the batch
    # starts with the window already open
    b = (batch[spec.begin_col] == True).to_numpy()  # noqa: E712
    r = (
        (batch[spec.reset_col] == True).to_numpy()  # noqa: E712
        if spec.reset_col is not None
        else np.zeros(m, dtype=bool)
    )
    carried_on = bool(st.get("on", False))
    spans, on_end = _acc_segments(carried_on, b, r)
    out = np.zeros(m, dtype="float64")
    cnt_out = np.zeros(m, dtype="int64")
    last_acc = None
    last_cnt = 0
    for s_, e_ in spans:
        cont = s_ == 0 and carried_on
        seg_ok = ok[s_:e_]
        if k == "acc_count":
            seed = st.get("cnt", 0) if cont else 0
            run = np.cumsum(seg_ok) + seed
            cnt_out[s_:e_] = run
            last_cnt = int(run[-1])
        elif k in ("acc_sum", "acc_avg"):
            seed = st.get("acc", 0.0) if cont else 0.0
            run = np.cumsum(np.where(seg_ok, xv[s_:e_], 0.0)) + seed
            out[s_:e_] = run
            last_acc = float(run[-1])
            if k == "acc_avg":
                cseed = st.get("cnt", 0) if cont else 0
                crun = np.cumsum(seg_ok) + cseed
                cnt_out[s_:e_] = crun
                last_cnt = int(crun[-1])
                out[s_:e_] = np.where(crun > 0, run / np.maximum(crun, 1), 0.0)
        else:  # acc_max / acc_min
            seed = st.get("acc", np.nan) if cont else np.nan
            masked = np.where(seg_ok, xv[s_:e_], np.nan)
            run = (np.fmax if k == "acc_max" else np.fmin).accumulate(
                np.concatenate(([seed], masked))
            )[1:]
            out[s_:e_] = np.where(np.isnan(run), 0.0, run)
            last_acc = None if np.isnan(run[-1]) else float(run[-1])
    if on_end:
        st["on"] = True
        if k == "acc_count":
            st["cnt"] = last_cnt
        elif k == "acc_avg":
            st["acc"] = last_acc if last_acc is not None else 0.0
            st["cnt"] = last_cnt
        elif k in ("acc_max", "acc_min"):
            if last_acc is not None:
                st["acc"] = last_acc
            else:
                st.pop("acc", None)
        else:
            st["acc"] = last_acc if last_acc is not None else 0.0
    else:
        st["on"] = False
        st.pop("acc", None)
        st.pop("cnt", None)
    if k == "acc_count":
        return pd.Series(cnt_out, index=batch.index, dtype="object")
    return pd.Series(out, index=batch.index, dtype="object")


def analytic_state_stream(
    df: DataFrame,
    specs: list[AnalyticSpec],
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Run every spec against per-key rule state; returns the input frame
    plus one output column per spec (pass-through otherwise)."""
    if not key_cols:
        _warn_global("analytic-function")
        from pyspark.sql import functions as F

        df = df.withColumn("__akey", F.lit(0))
        key_cols = ["__akey"]
    in_fields = list(df.schema.fields)
    out_schema = T.StructType(
        in_fields + [T.StructField(s.out, s.out_type, True) for s in specs]
    )
    state_schema = T.StructType([T.StructField("blob", T.BinaryType())])
    order = [c for c in order_cols if c in df.columns]
    in_names = [f.name for f in in_fields]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        sts: dict = pickle.loads(state.get[0]) if state.exists else {}
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        if order:
            batch = batch.sort_values(order, kind="mergesort").reset_index(drop=True)
        res = batch[in_names].copy()
        for i, s in enumerate(specs):
            res[s.out] = _vector_spec(s, sts.setdefault(i, {}), batch)
        state.update((pickle.dumps(sts),))
        yield res

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )

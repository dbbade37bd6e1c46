"""AST -> DataFrame translator (the engine's "planner").

The reference compiles SQL to a fixed operator chain
(internal/topo/planner/planner.go:572-959):

    DataSource* -> [Watermark] -> [AnalyticFuncs] -> [Window] ->
    [Join] -> [AggFunc] -> [Filter] -> [Aggregate] -> [Having] ->
    [WindowFunc] -> [Order] -> Project -> [ProjectSet]

Here the same pipeline is *declared* as DataFrame transformations and
Catalyst owns optimization (predicate pushdown, column pruning, join
strategy, partial aggregation — the reference's hand-written rules in
internal/topo/planner/rules.go are all subsumed).  Scale notes:

- filters are applied before grouping/joining so they reach the parquet
  scan (PushedFilters) — verified in tests via explain();
- groupBy/time-window aggregation uses native partial+final agg, so at
  100 TB only one row per (group, partition) crosses the shuffle;
- lookup/scan-table joins mark the small side broadcastable;
- sliding windows translate to range-frame window functions (single sort
  per partition, no self-join).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ekuiper_spark import functions as fregistry
from ekuiper_spark.ast_nodes import (
    Access, Between, Binary, CaseWhen, ColumnRef, Field, FuncCall, GroupBy, InExpr,
    Index, JsonPath, Like, Literal, Node, SelectStatement, Slice, Unary,
    Wildcard, WindowSpec, conjoin, conjuncts, transform, walk,
)
from ekuiper_spark.catalog import Catalog
from ekuiper_spark.parser import parse_sql
from ekuiper_spark.timeutil import epoch_us

UNIT_SECONDS = {"dd": 86400, "hh": 3600, "mi": 60, "ss": 1, "ms": 0.001}


class _SRFTypeError(TypeError):
    """Set-returning-function argument type error — surfaces as an error
    emission under the reference's SendError contract, not an exception."""


@dataclass
class TranslateCtx:
    source_aliases: set[str] = dc_field(default_factory=set)
    primary_alias: Optional[str] = None  # the left/stream source alias
    aliases: dict[str, Node] = dc_field(default_factory=dict)  # select alias -> AST (inlining)
    alias_stack: set = dc_field(default_factory=set)  # aliases being expanded (shadowing guard)
    agg_map: dict[str, str] = dc_field(default_factory=dict)  # canonical agg repr -> col name
    dim_map: dict[str, str] = dc_field(default_factory=dict)  # canonical dim repr -> col name
    post_agg: bool = False
    window_col: Optional[str] = None  # name of window struct col ("window")
    window_bounds: tuple[Optional[Column], Optional[Column]] = (None, None)
    sliding_frame: Optional[Any] = None  # WindowSpec for over()-style aggs
    sliding_parts: list = dc_field(default_factory=list)  # partition Columns
    sliding_us_col: Optional[str] = None  # materialized frame order key (dedups sorts)
    frame_first: dict = dc_field(default_factory=dict)  # canon raw ref -> first-of-frame Column
    windowfunc_partition: list = dc_field(default_factory=list)  # window-key col names
    grpord_col: Optional[str] = None  # group-formation-order col (row_number over GROUPS)
    grprank_partition: list = dc_field(default_factory=list)  # window-key cols post-agg
    grprank_col: Optional[str] = None  # precomputed group rank (streaming chained aggs)
    rank_const1: set = dc_field(default_factory=set)  # row_number canon keys fixed at 1 (per-dim sessions)
    winfunc_map: dict = dc_field(default_factory=dict)  # canon row_number call -> stateful-op rank col
    pending_analytics: list = dc_field(default_factory=list)  # AnalyticSpecs fused into the stateful window op
    row_cols: list[str] = dc_field(default_factory=list)  # user-visible cols at agg input
    analytic_map: dict[str, str] = dc_field(default_factory=dict)  # hoisted analytic cols
    cc_stream: dict[str, list] = dc_field(default_factory=dict)  # streaming changed_cols: canon -> [(col, name)]
    hit_col: Optional[str] = None  # emission row-number col for last_hit_*
    order_cols: list[str] = dc_field(default_factory=list)
    event_col: Optional[str] = None
    event_is_long: bool = False  # epoch-millis long event time (reference native)
    event_is_variant: bool = False  # dynamic stream: event col under VARIANT
    window_bounds_ms: bool = False  # window struct holds ts but user time is ms
    window_parts: list = dc_field(default_factory=list)  # GROUP BY dim col names (pre-window)
    join_window_col: Optional[str] = None  # stream-stream join bucket col (reused as window)
    window_shrink_us: Optional[int] = None  # sparse-hopping join: true window = [end - shrink, end)
    join_sliding_keys: Optional[list] = None  # precomputed per-trigger keys (batch sliding join)
    source_order: list = dc_field(default_factory=list)  # FROM-order aliases (star collision precedence)
    dyn_errs: list = dc_field(default_factory=list)  # per-row dynamic-type error messages (SendError)
    srf_err: Optional[Any] = None  # per-row SRF runtime error (SendError unnest nil)
    wm_col: Optional[str] = None  # hidden TIMESTAMP col carrying the watermark (long event cols)
    deferred_where: Optional[Any] = None  # WHERE kept ABOVE count/sliding windows (filters window CONTENT)
    deferred_prefilter: Optional[str] = None  # WHERE routed into the stateful op post-analytics (fused-analytic state sees all rows)
    count_fast: bool = False  # aggregated COUNTWINDOW: fullness check + bounds on the post-agg frame
    session_fast: Any = None  # aggregated capped SESSIONWINDOW: True = requested; (timeout_us, cap_us) = active (bounds from min/max aggregates instead of two extra Window passes + a re-sort)
    flat_col_map: dict = dc_field(default_factory=dict)  # (qualified|bare) name -> flat column (post-stateful-join)
    finalized: bool = False  # source loading fully translated the statement


def canon(node: Node) -> str:
    return repr(node)


def _is_agg_call(n: Node) -> bool:
    return isinstance(n, FuncCall) and fregistry.is_aggregate(n.name)


def _is_meta_call(n: Node) -> bool:
    return isinstance(n, FuncCall) and n.name in ("meta", "mqtt")


def _is_over_call(n: Node) -> bool:
    """A call with an OVER (PARTITION BY / ORDER BY) or WHEN clause."""
    return isinstance(n, FuncCall) and (
        n.when is not None or bool(n.partition_by) or bool(n.order_by)
    )


_WINDOW_META_FNS = frozenset(fregistry.WINDOW_META) | {"event_time"}


def _uses_window_meta(*nodes: Optional[Node]) -> bool:
    """Any window_start()/window_end()/.../event_time() call in ``nodes``."""
    return any(
        isinstance(m, FuncCall) and m.name in _WINDOW_META_FNS
        for n in nodes
        for m in walk(n)
    )


def _pandas_state_window(w: Optional[WindowSpec]) -> bool:
    """COUNT, STATE, SLIDING and capped (2-arg) SESSION windows: the kinds
    a streaming rule runs through one pandas-state window operator."""
    return w is not None and (
        w.kind in ("count", "state", "sliding")
        or (w.kind == "session" and len(w.args) >= 2)
    )


def _window_state_keys(group: GroupBy) -> tuple[list[Node], bool]:
    """The state keys of a pandas-state window, and whether they are the
    GROUP BY dims.  Capped sessions are keyed by the dims (session ==
    group); a STATEWINDOW by its partition args, the dims sub-grouping
    each window; COUNT and SLIDING windows run one global state
    partition, the dims sub-grouping each window (sliding dims sub-group
    a global frame)."""
    w = group.window
    if w.kind == "session":
        return list(group.dims or []), True
    if w.kind == "state":
        return list(w.state_conds[2:]), False
    return [], False


def _shrink_window(df, shrink_us):
    from pyspark.sql import functions as _F

    return df.withColumn(
        "window",
        _F.struct(
            _F.timestamp_micros(
                epoch_us(_F.col("window.end")) - shrink_us
            ).alias("start"),
            _F.col("window.end").alias("end"),
        ),
    )

class Translator:
    """One SELECT statement -> one DataFrame."""

    _cur_df = None  # compile-time type-probe frame; set per statement

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        streaming: bool = False,
        order_cols: Optional[list[str]] = None,
        event_col: Optional[str] = None,
        watermark: Optional[str] = None,
        on_error: str = "fail",
        rule_ctx: Optional[dict] = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.streaming = streaming
        self.order_cols = order_cols
        self.event_col = event_col
        self.watermark = watermark
        # rule execution context (funcs_misc.go:475-489): rule_id,
        # rule_start (epoch ms), props (rule option properties)
        self.rule_ctx = rule_ctx or {}
        # error-as-value policy (reference SendError option, def/rule.go:36):
        # 'fail' = rule error on bad rows (ANSI), 'null' = per-row errors
        # become nulls (try_* expressions), matching the reference's
        # skip-row behavior
        self.on_error = on_error

    # ------------------------------------------------------------------ #
    def compile(self, stmt: SelectStatement) -> DataFrame:
        out = self._compile_stmt(stmt)
        if self.on_error != "emit" or self.streaming:
            return out
        errs = None
        if hasattr(self.catalog, "validation_errors"):
            errs = self.catalog.validation_errors(stmt.source)
        if errs is None:
            return out
        # SendError: preprocessor type-mismatch rows bypass every operator
        # — source decode errors are broadcast straight through filters,
        # windows and projections to the sink (rule_test.go
        # TestSingleSQLRule4; window bypass event_window_trigger.go:227-232
        # / TestEventWindowRule7) — so the error rows union onto the final
        # output with all data columns null.
        if "error" in out.columns:
            data = out
        else:
            data = out.withColumn("error", F.lit(None).cast("string"))
        bypass = errs.select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in data.schema
                if f.name != "error"
            ],
            F.col("error"),
        )
        return data.unionByName(bypass)

    def _used_columns(self, stmt: SelectStatement) -> Optional[set[str]]:
        """The rule's pruned column set (reference PruneColumns): the
        preprocessor only validates fields the statement references, so a
        type-mismatched UNUSED column never errors (TestSingleSQLRule4's
        int-color row emits data).  None = all columns (wildcards)."""
        used: set[str] = set()
        for n in walk(stmt):
            if isinstance(n, Wildcard):
                return None
            if isinstance(n, ColumnRef):
                used.add(n.name.lower())
        # the event-time column is consumed implicitly (windows, analytic
        # ordering) even when never projected
        if self.event_col:
            used.add(self.event_col.lower())
        for c in self.order_cols or []:
            used.add(c.lower())
        sdef = self.catalog.get(stmt.source)
        if sdef is not None and sdef.timestamp_col:
            used.add(sdef.timestamp_col.lower())
        used.add("ts")
        return used

    def _compile_stmt(self, stmt: SelectStatement) -> DataFrame:
        ctx = TranslateCtx()
        self._cur_stmt = stmt  # default-field-name numbering (_field_name)
        # register select aliases for inlining before source loading — the
        # reference allows JOIN ON conditions over select aliases
        # (rule_test.go TestSingleSQL `on demoTs = table1Id`)
        for f in stmt.fields:
            if f.alias:
                ctx.aliases[f.alias.lower()] = f.expr
        df = self._load_sources(stmt, ctx)
        sdef0 = self.catalog.get(stmt.source)
        fdefs = (sdef0.options or {}).get("__field_defaults__") if sdef0 else None
        if fdefs:
            # CREATE STREAM field DEFAULTs: missing/nil fields read their
            # declared default (preprocessor.go defaultFieldProcessor;
            # parser_stream_test.go `USERID BIGINT DEFAULT 10`)
            df = df.withColumns(
                {
                    c: F.coalesce(F.col(c), F.lit(v))
                    for c, v in fdefs.items()
                    if c in df.columns
                }
            )
        self._cur_df = df  # for compile-time type probes (_probe_type)

        # event-time column resolution (TIMESTAMP option; default 'ts')
        sdef = self.catalog.get(stmt.source)
        ec = self.event_col or (sdef.timestamp_col if sdef else None)
        if ec is None and "ts" in df.columns:
            ec = "ts"
        ctx.event_col = ec
        ctx.order_cols = self.order_cols or ([ec] if ec else [])
        if not ctx.order_cols and "__seq" in df.columns:
            # simulator/gen sources carry an arrival-sequence column;
            # stateful operators order on it (reference arrival order)
            ctx.order_cols = ["__seq"]
        ctx.row_cols = [
            c for c in df.columns if not c.startswith("__") and c not in ("window", "_metadata")
        ]
        # long event-time columns are epoch millis (the reference's native
        # representation); range frames order on micros either way.  A
        # dynamic (VARIANT) event column carries the same epoch ms —
        # _event_ref casts it, string values parsing leniently (cast.go)
        ctx.event_is_long = ec is not None and isinstance(
            df.schema[ec].dataType, (T.LongType, T.VariantType)
        )
        ctx.event_is_variant = ec is not None and isinstance(
            df.schema[ec].dataType, T.VariantType
        )

        if (
            self.on_error in ("emit", "omit")
            and not self.streaming
            and not stmt.joins
            and (
                stmt.group is None
                or (
                    stmt.group.window is not None
                    and stmt.group.window.kind == "tumbling"
                    and not stmt.group.dims
                )
            )
            and stmt.having is None
            and not any(self._find_aggs(f.expr) for f in stmt.fields)
            and (
                any(
                    isinstance(fld.dataType, T.VariantType)
                    for fld in df.schema.fields
                )
                # typed streams also take the error pipeline when the
                # statement holds calls whose TYPED inputs can error
                # per-row (jsonpath on nil, funcs_misc.go:538-575 via
                # jsonpath_eval.go "invalid data nil for jsonpath")
                or self._has_row_error_calls(stmt)
            )
        ):
            return self._compile_send_error(df, stmt, ctx)

        if ctx.finalized:
            # source loading fully translated the statement, ORDER BY and
            # LIMIT included (_window_join_chain)
            return df

        if self.streaming and self.watermark and ec and not ctx.join_window_col:
            # (stream-stream joins watermark each side before the join).
            # LONG event columns carry epoch millis (the reference's
            # native representation) — Spark watermarks require a
            # TIMESTAMP, so a hidden __evt column carries it; window keys
            # must then build over __evt for append-mode binding
            if ctx.event_is_long:
                df = df.withColumn(
                    "__evt", F.timestamp_millis(self._event_ref(ctx))
                ).withWatermark("__evt", self.watermark)
                ctx.wm_col = "__evt"
            else:
                df = df.withWatermark(ec, self.watermark)

        # analytic-function hoisting: the reference computes analytic calls
        # BEFORE the filter (plan chain AnalyticFuncs -> ... -> Filter,
        # planner.go:572-959; Call.CachedField hidden columns) — so lag()
        # etc. see all rows, and WHERE may reference analytic results.
        # (without a WHERE only begin/reset accumulators need the
        # pre-pass — they are two-window computations, not one expression)
        if self.streaming and df.isStreaming:
            calls = self._collect_analytic_calls(stmt, ctx)
            if calls:
                # Spark window functions are batch-only; continuous
                # analytic state runs through ONE applyInPandasWithState
                # operator keyed by the shared OVER partition
                # (streaming/analytics.py)
                df = self._hoist_analytics_streaming(df, stmt, ctx, calls)
        else:
            # windowed statements must ALSO hoist: AnalyticFuncsPlan sits
            # BELOW WindowPlan (planner.go:651-693), so lag state is
            # continuous across windows — evaluating at projection time
            # would partition it by the window collection (and double-
            # advance it on hopping/sliding row duplication)
            df = self._hoist_analytics(
                df, stmt, ctx,
                all_calls=stmt.where is not None
                or (stmt.group is not None and stmt.group.window is not None),
            )

        # WHERE — before any window/agg so Catalyst pushes it to the scan.
        # Aggregate calls in WHERE (reference AggFuncOp, planner.go:789-795
        # rewrites them into precomputed fields evaluated per window) split
        # off and run as post-aggregation filters (HAVING merge).
        # last_hit_* conjuncts (rule-trigger bookkeeping,
        # funcs_global_state.go) filter on the emission sequence: rows
        # passing the plain conjuncts are numbered, and last_hit_count is
        # the count of prior emissions.
        if stmt.where is not None:
            pre, agg_conjs, hit_conjs = self._split_where(stmt.where, ctx.aliases)
            _w = stmt.group.window if stmt.group else None
            if (
                pre is not None
                and _w is not None
                and _w.kind in ("count", "sliding")
                and (not self.streaming or not stmt.joins)
            ):
                # COUNT and SLIDING windows form over ALL rows — the
                # reference never pushes WHERE below them
                # (windowPlan.go:92-95 PushDownPredicate); the filter then
                # prunes each window's CONTENT, and a fully-pruned window
                # drops whole (filter_operator.go:84-87).
                # TestAliasOrderBy14: 3 of 5 rows pass, yet COUNTWINDOW(5)
                # fills and emits.  STREAMING single-source rules route
                # the predicate into the stateful operator as a keep
                # column (windows form from all rows, content prunes).
                if ctx.join_sliding_keys:
                    # batch sliding JOIN: triggers/frames already formed
                    # inside _batch_sliding_join from the RAW streams, so
                    # filtering the joined pairs here is exactly
                    # FilterPlan-above-JoinPlan (planner.go:797) — it
                    # prunes pairs before aggregation without touching
                    # window formation
                    df = df.filter(self._expr(pre, ctx))
                else:
                    ctx.deferred_where = pre
            elif pre is not None:
                if (
                    self.streaming
                    and ctx.pending_analytics
                    and _w is not None
                    and (
                        _w.kind == "state"
                        or (_w.kind == "session" and len(_w.args) >= 2)
                    )
                    and not stmt.joins
                ):
                    # FilterPlan sits ABOVE AnalyticFuncsPlan but BELOW
                    # WindowPlan (planner.go:651-693): FUSED analytics
                    # must advance on ALL rows while the filter prunes
                    # before window formation — a native filter here
                    # would starve the in-op analytic state (7th real
                    # fuzz catch).  Route the predicate into the op as a
                    # post-analytic pre-filter column.
                    df = df.withColumn(
                        "__pref",
                        F.coalesce(
                            self._expr(pre, ctx).cast("boolean"), F.lit(False)
                        ),
                    )
                    ctx.deferred_prefilter = "__pref"
                else:
                    df = df.filter(self._expr(pre, ctx))
            stmt.having = conjoin([stmt.having, *agg_conjs])
            if hit_conjs:
                if len(ctx.source_order) > 1 and any(
                    "time" in (canon(h) or "") for h in hit_conjs
                ):
                    # reference parity: last_hit_time() needs the row's
                    # event_time FuncValue, which only plain Tuples
                    # implement (row.go:549-556) — a JoinTuple row makes
                    # the valuer error "cannot get current time"
                    # (valuer.go:370-380).  Same loud error here.
                    raise ValueError(
                        "call last_hit_time error: cannot get current time "
                        "(last_hit_time() over a JOINED collection — "
                        "JoinTuple rows carry no event_time FuncValue, "
                        "row.go:549-556; use last_hit_count() or filter "
                        "before the join)"
                    )
                order: list[Column] = []
                if "__rowu" in df.columns:
                    # joined sliding frame: __rowu is the reference's
                    # join scan order (trigger, then frame position)
                    order = [F.col("__rowu")]
                else:
                    for c in ctx.order_cols:
                        if df.columns.count(c) > 1:
                            # joined frame carries the col from BOTH
                            # sides: order by every side's copy in FROM
                            # order (the join scan order)
                            for a2 in ctx.source_order:
                                try:
                                    df.select(F.col(f"{a2}.{c}"))
                                    order.append(F.col(f"{a2}.{c}"))
                                except Exception:
                                    continue
                        elif c in df.columns:
                            order.append(F.col(c))
                order = order or [F.monotonically_increasing_id()]
                rn = F.row_number().over(W.orderBy(*order))
                df = df.withColumn("__hit_rn", rn)
                ctx.hit_col = "__hit_rn"
                for i, c in enumerate(hit_conjs):
                    # materialize first: last_hit_time() is a window
                    # expression, which filters reject but projections allow
                    name = f"__hitc{i}"
                    df = df.withColumn(name, self._expr(c, ctx))
                    df = df.filter(F.col(name)).drop(name)
                df = df.drop("__hit_rn")
                ctx.hit_col = None

        has_agg = any(self._find_aggs(f.expr) for f in stmt.fields) or (
            stmt.having is not None
        )
        group = stmt.group
        window = group.window if group else None
        # GROUP BY dims put the projection in AGGREGATE context even with
        # no aggregate functions in the SELECT (reference WithAggFields,
        # checkAgg.go:56-75): ProjectOp runs GroupRange and emits ONE row
        # per group, with bare columns evaluated against the group's first
        # row (GroupedTuples.Value -> Content[0], row.go:743-748).  Content
        # emission is only the no-dims no-aggs shape.
        agg_ctx = has_agg or bool(group is not None and group.dims)

        # batch sliding whose output exceeds one row per trigger — GROUP BY
        # dims (content sub-grouping) or no aggregates (content emission) —
        # routes through the window-key machinery below via the
        # frame-membership join (_sliding_membership_key); the unkeyed
        # aggregate case keeps the O(n log n) range-frame path
        fields_agg = any(self._find_aggs(f.expr) for f in stmt.fields)
        # non-aggregated sliding with a HAVING emits whole frame CONTENTS
        # per passing trigger (the reference HavingOp filters the window
        # COLLECTION and passes it intact to ProjectOp — TestWindowRule3's
        # two-row sixth emission); hit-only conjuncts (last_agg_hit_*)
        # gate EMISSIONS sequentially.  GROUP BY dims instead sub-group to
        # one row per (trigger, dim) via the grouped path.
        # applies to EVERY batch window kind: tumbling/hopping/count/
        # session collections pass or drop whole too
        content_having = (
            window is not None
            and not self.streaming
            and not fields_agg
            and stmt.having is not None
            and not group.dims
        )
        sliding_content = (
            window is not None
            and window.kind == "sliding"
            and not self.streaming
            and (
                (bool(group.dims) or ctx.deferred_where is not None)
                if has_agg
                else True
            )
        ) or bool(ctx.join_sliding_keys) or content_having

        if self.streaming and _pandas_state_window(window):
            df = self._stateful_window(df, stmt, ctx)
        elif window is not None and window.kind == "sliding" and not sliding_content:
            # per-event emission: aggs become range-frame window functions;
            # GROUP BY dims become the frame partition (keyed sliding)
            ctx.sliding_frame = window
            ctx.sliding_parts = [self._expr(d, ctx) for d in (group.dims or [])]
            if window.filter is not None:
                df = df.filter(self._expr(window.filter, ctx))
            bucketed = False
            if not ctx.sliding_parts and ec is not None:
                # unkeyed sliding: instead of one global sort partition,
                # bucket by a coarse time range (16x the frame span) and
                # replicate boundary rows into the neighbor bucket as
                # non-emitting "shadows", so every frame is complete
                # within its bucket — parallel sort, ~6% row duplication
                df = self._sliding_buckets(df, window, ctx)
                bucketed = True
            extras = []
            _gap_rng = None
            if window.trigger is not None:
                # OVER (WHEN cond): frames still span ALL rows; only rows
                # satisfying the trigger emit (window_op.go:757-784) — so
                # the trigger filter applies after the window projection.
                # Gap conjuncts (last_hit_time) run a sequential lastHit
                # scan AFTER the flag filter (lastHit advances on full
                # hits only); the per-row lag approximation is gone.
                _tr_flag, _gap_rng = self._split_plain_trigger(
                    window.trigger, ctx
                )
                extras.append((
                    self._expr(_tr_flag, ctx)
                    if _tr_flag is not None
                    else F.lit(True),
                    "__trig",
                ))
                if _gap_rng is not None:
                    # hidden trigger time for the post-filter throttle
                    _us_t = (
                        (self._event_ref(ctx) * 1000)
                        if ctx.event_is_long
                        else epoch_us(self._event_ref(ctx))
                    )
                    extras.append((_us_t, "__tu"))
            if bucketed:
                extras.append((F.col("__shadow"), "__shadow"))
            if ec is not None:
                # per-row window bounds: the trigger's frame is (t-L, t+D]
                # (window_op.go:718 windowStart = trigger - length)
                _sl_len = int(window.args[0] * UNIT_SECONDS[window.unit] * 1_000_000)
                _sl_delay = (
                    int(window.args[1] * UNIT_SECONDS[window.unit] * 1_000_000)
                    if len(window.args) > 1
                    else 0
                )
                _sl_us = (
                    (self._event_ref(ctx) * 1000)
                    if ctx.event_is_long
                    else epoch_us(self._event_ref(ctx))
                )
                df = df.withColumn(
                    "window",
                    F.struct(
                        F.timestamp_micros(_sl_us - _sl_len).alias("start"),
                        F.timestamp_micros(_sl_us + _sl_delay).alias("end"),
                    ),
                )
                ctx.window_col = "window"
                if ctx.event_is_long:
                    ctx.window_bounds_ms = True
            if any(self._find_aggs(f.expr) for f in stmt.fields):
                # aggregated sliding: raw columns beside the aggregates
                # take the FIRST frame row's value (the reference projects
                # the window collection against its first tuple — same
                # rule as TestWindowRule8, here per per-event frame).
                # min_by on (event-us, tiebreaks) over the same range
                # frame stays deterministic under parallel evaluation.
                us = (
                    (self._event_ref(ctx) * 1000)
                    if ctx.event_is_long
                    else epoch_us(self._event_ref(ctx))
                )
                # Two-stage frame-first extraction.  A min_by keyed on a
                # STRUCT inside a sliding range frame is evaluated
                # interpreted per (row x frame-row) — measured ~5x the
                # cost of the entire remaining window pass at sf1 (struct
                # allocation per comparison).  Frame edges are integer-µs
                # range bounds, so a tie group (same partition, same
                # event-us) is always in or out of a frame AS A WHOLE —
                # the frame's first row is therefore the canonical first
                # row of its tie group.  Stage 1 extracts that value once
                # per tie group (whole-partition frame over (parts, us) —
                # evaluated once per group, not per row, and its sort is
                # subsumed by the frame sort); stage 2 runs the per-row
                # frame min_by on a PLAIN long key, where us ties all
                # carry the same stage-1 value, keeping determinism.
                tie_cols = [
                    F.col(c).alias(f"t{i}")
                    for i, c in enumerate(ctx.order_cols or [])
                    if c in df.columns
                ]
                # materialize the frame order key once: when both window
                # stages order by the SAME column attribute the second
                # Sort canonicalizes away (each Project re-deriving
                # unix_micros(ts) gets a fresh exprId and forces a
                # redundant re-sort between the two Window nodes)
                df = df.withColumn("__slu", us)
                ctx.sliding_us_col = "__slu"
                us = F.col("__slu")
                gparts = ctx.sliding_parts or [F.lit(1)]
                gspec = W.partitionBy(*gparts, us)
                dim_canons = {canon(d) for d in (group.dims or [])}
                fspec = self._sliding_frame_spec(ctx)
                gf_cols: dict[str, Column] = {}

                def _first_of_frame(val: Column, slot: str) -> Column:
                    if tie_cols:
                        gf_cols[slot] = F.min_by(val, F.struct(*tie_cols)).over(gspec)
                        val = F.col(slot)
                    return F.min_by(val, us).over(fspec)

                ngf = 0
                for f in stmt.fields:
                    for ref in self._find_raw_cols(f.expr):
                        key = canon(ref)
                        if key in dim_canons or key in ctx.frame_first:
                            continue
                        if ref.source is None and (
                            ref.name in ctx.aliases or ref.name not in df.columns
                        ):
                            continue
                        ctx.frame_first[key] = _first_of_frame(
                            self._expr(ref, ctx), f"__gf{ngf}"
                        )
                        ngf += 1
                # hoisted analytic outputs (lag/latest/... hidden columns)
                # referenced bare beside the aggregates follow the same
                # Content[0] rule: remap to first-of-frame columns
                an_remaps: dict[str, Column] = {}
                for akey, an_out in list(ctx.analytic_map.items()):
                    if an_out in df.columns:
                        nm2 = f"__ff_{an_out.lstrip('_')}"
                        an_remaps[nm2] = _first_of_frame(
                            F.col(an_out), f"__gf{ngf}"
                        )
                        ngf += 1
                        ctx.analytic_map[akey] = nm2
                if gf_cols:
                    df = df.withColumns(gf_cols)
                if an_remaps:
                    df = df.withColumns(an_remaps)
            if stmt.having is not None:
                # HAVING over a per-event sliding window gates each
                # trigger's emission on its frame aggregates (the
                # reference's HavingOp after the window aggregate);
                # compiled with the frame context so agg calls and
                # select aliases resolve over the frame
                extras.append((self._expr(stmt.having, ctx), "__hav"))
            df = self._project_staged(df, stmt, ctx, extra=extras)
            ctx.frame_first = {}
            if bucketed:
                df = df.filter(~F.col("__shadow")).drop("__shadow")
            if window.trigger is not None:
                df = df.filter(F.col("__trig")).drop("__trig")
            if _gap_rng is not None:
                # sequential lastHit gate over the flag-passing triggers
                # (emission-order scan; HAVING gates AFTER — lastHit
                # advanced at trigger time in the reference regardless)
                df = self._sequential_throttle(
                    df, "__tu", _gap_rng[0], _gap_rng[1]
                ).drop("__tu")
            if stmt.having is not None:
                df = df.filter(F.col("__hav")).drop("__hav")
        elif group is not None and group.window is not None and (
            not agg_ctx or content_having
        ):
            # window WITHOUT aggregation: the window batches rows and
            # window functions (row_number, ...) rank within each window
            # collection (reference WindowFuncOperator over window
            # contents, windowfunc_operator.go:27-160)
            if group.window.filter is not None:
                df = df.filter(self._expr(group.window.filter, ctx))
            df, wnames = self._window_key(df, group.window, ctx)
            if ctx.window_shrink_us and ctx.window_col == "window":
                # sparse-hopping join content: display bounds shrink to
                # the true window (stateless, append-legal)
                df = _shrink_window(df, ctx.window_shrink_us)
                ctx.window_shrink_us = None
            if content_having:
                # HAVING over non-aggregated sliding content: plain agg
                # conjuncts evaluate over each trigger's FRAME (window
                # functions partitioned by the trigger key) and pass or
                # drop the whole collection; hit conjuncts
                # (last_agg_hit_*) then count prior EMISSIONS
                # sequentially (TestWindowRule3's `< 7` cap)
                hconjs = conjuncts(stmt.having)
                hitty = [c for c in hconjs if self._has_hit_fn(c, ctx.aliases)]
                plain = [c for c in hconjs if c not in hitty]
                if plain:
                    wspec = W.partitionBy(*[F.col(c) for c in wnames])
                    agg_nodes: dict[str, FuncCall] = {}
                    for c in plain:
                        for a in self._find_aggs(c):
                            agg_nodes.setdefault(canon(a), a)
                    for i2, (k2, call) in enumerate(agg_nodes.items()):
                        hname = f"__havagg{i2}"
                        df = df.withColumn(
                            hname, self._agg_expr(call, ctx).over(wspec)
                        )
                        ctx.agg_map[k2] = hname
                    # a RAW column ref in HAVING reads the collection's
                    # value = its FIRST row (HavingOp GroupRange passes
                    # the whole window as ONE aggRow; Value -> Content[0],
                    # having_operator.go:40-56 + collection.go:206-209) —
                    # NOT a per-row filter.  min_by over the frame keeps
                    # it deterministic under parallel evaluation.
                    hraw: dict[str, ColumnRef] = {}
                    for c in plain:
                        for ref in self._find_raw_cols(c):
                            hraw.setdefault(canon(ref), ref)
                    hraw_cols: list[str] = []
                    if hraw:
                        okey = self._scan_order_key(df, ctx)
                        for i3, (k3, ref) in enumerate(hraw.items()):
                            if k3 in ctx.dim_map or k3 in ctx.agg_map or (
                                ref.source is None and ref.name.lower() in ctx.aliases
                            ):
                                continue
                            col = self._expr(ref, ctx)
                            name = f"__havraw{i3}"
                            first = (
                                F.min_by(col, okey) if okey is not None else F.first(col)
                            )
                            df = df.withColumn(name, first.over(wspec))
                            ctx.dim_map[k3] = name
                            hraw_cols.append(name)
                    ctx.post_agg = True
                    for c in plain:
                        df = df.withColumn("__havc", self._expr(c, ctx))
                        df = df.filter(F.col("__havc")).drop("__havc")
                    ctx.post_agg = False
                    ctx.agg_map = {}
                    for k3 in list(ctx.dim_map):
                        if ctx.dim_map[k3] in hraw_cols:
                            del ctx.dim_map[k3]
                    df = df.drop(*hraw_cols)
                    df = df.drop(*[f"__havagg{i2}" for i2 in range(len(agg_nodes))])
                if hitty:
                    tkey = wnames[0]
                    reps = df.select(tkey).distinct().withColumn(
                        "__hit_rn",
                        F.row_number().over(W.orderBy(F.col(tkey))),
                    )
                    ctx.hit_col = "__hit_rn"
                    for c in hitty:
                        reps = reps.filter(self._expr(c, ctx))
                    ctx.hit_col = None
                    df = df.join(reps.select(tkey), tkey, "left_semi")
            if (
                self.streaming
                and self.watermark
                and ctx.window_col == "window"
                and group.window.kind in ("tumbling", "hopping", "session")
            ):
                # event-time content emission (the reference's
                # event_window_trigger): rows batch per window and release
                # only when the watermark passes the window close — late
                # rows drop, unclosed windows never emit.  collect_list +
                # explode keeps this a single watermark-finalized
                # aggregation; the packed struct leads with the order
                # cols so sort_array restores event order.
                cols = [
                    c for c in df.columns
                    if c != "window" and not c.startswith("__") and c != "_metadata"
                ]
                lead = [c for c in ctx.order_cols if c in cols]
                packed = F.struct(*[F.col(c) for c in lead + [c for c in cols if c not in lead]])
                gdf = df.groupBy(F.col("window")).agg(
                    F.collect_list(packed).alias("__rows")
                )
                df = gdf.select(
                    "window", F.explode(F.sort_array("__rows")).alias("__row")
                ).select("window", "__row.*")
            ctx.windowfunc_partition = wnames
            df = self._project(df, stmt, ctx)
        elif (
            group is None
            and stmt.having is not None
            and not fields_agg
            and not self.streaming
        ):
            # unwindowed non-aggregated HAVING: the bounded frame is ONE
            # collection — HavingOp gates the whole collection and passes
            # its content intact to ProjectOp (having_test.go:36-130:
            # avg(id1)>1 over [1,2,5] emits all three rows; a failing
            # gate emits none).  Consistent with the engine's batch
            # mapping of unwindowed aggregates (frame = one collection).
            df = self._frame_content_having(df, stmt, ctx)
            df = self._project(df, stmt, ctx)
        elif group is not None or has_agg:
            df = self._grouped(df, stmt, ctx)
        else:
            df = self._project(df, stmt, ctx)

        if stmt.order:
            keys: list[Column] = []
            for s in stmt.order:
                nm = self._sort_name(s.expr, stmt)
                col = F.col(nm) if nm else self._expr(s.expr, ctx)
                try:
                    dt = df.select(col).schema[0].dataType
                except Exception:
                    dt = None
                if isinstance(dt, T.VariantType):
                    # VARIANT is not orderable in Spark; the reference
                    # sorts dynamic values on their runtime kind (numerics
                    # interoperate, sorter.go) with nil values last —
                    # surrogate: (nil-flag, numeric value, string value)
                    gok, sv, dv, _lv = self._variant_side(col, "variant")
                    # nil sorts LAST regardless of direction
                    # (sorter.go:68-73 ignores field.Ascending for nils)
                    keys.append(gok.isNull().cast("int").asc())
                    subs = [dv, sv]
                else:
                    subs = [col]
                # nulls LAST in BOTH directions (sorter.go:68-73; Spark's
                # asc() default would put them first)
                keys.extend(
                    k.asc_nulls_last() if s.asc else k.desc_nulls_last()
                    for k in subs
                )
            df = df.orderBy(*keys)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df

    def _hoist_analytics(
        self,
        df: DataFrame,
        stmt: SelectStatement,
        ctx: TranslateCtx,
        all_calls: bool = True,
    ) -> DataFrame:
        """Materialize analytic calls as hidden columns on the pre-filter
        DataFrame and register them so later references use the columns.
        ``all_calls=False`` hoists only the calls that REQUIRE a pre-pass
        (begin/reset accumulators), leaving the rest inline."""
        calls = self._collect_analytic_calls(stmt, ctx)
        for i, (key, call) in enumerate(calls.items()):
            if call.name == "changed_cols":
                continue  # multi-column; expanded at projection, not filterable
            is_cond_acc = call.name.startswith("acc_") and len(call.args) >= 3
            if not all_calls and not is_cond_acc:
                continue
            name = f"__an{i}"
            if is_cond_acc:
                # begin/reset-conditioned accumulator: needs a two-pass
                # window (segment split, then gated cumulative agg)
                df = self._acc_cond_col(df, call, ctx, name)
            else:
                df = df.withColumn(name, self._expr(call, ctx))
            ctx.analytic_map[key] = name
        return df

    def _hoist_analytics_streaming(
        self,
        df: DataFrame,
        stmt: SelectStatement,
        ctx: TranslateCtx,
        calls: dict[str, FuncCall],
    ) -> DataFrame:
        """Streaming analog of :meth:`_hoist_analytics`: compute every
        analytic call's inputs natively as hidden columns, then run ONE
        keyed stateful operator that advances the per-call rule state
        per event (streaming/analytics.py).  All calls in a statement
        must share the same OVER partition (one state keying)."""
        from ekuiper_spark.streaming.analytics import (
            AnalyticSpec, analytic_state_stream,
        )

        temps: dict[str, Column] = {}

        def add_temp(col: Column) -> str:
            name = f"__at{len(temps)}"
            temps[name] = col
            return name

        part_canon: Optional[str] = None
        parts: list[Node] = []
        specs: list[AnalyticSpec] = []
        out_i = 0
        for key, call in calls.items():
            pc = repr([canon(p) for p in call.partition_by])
            if part_canon is None:
                part_canon, parts = pc, call.partition_by
            elif pc != part_canon:
                raise NotImplementedError(
                    "streaming analytic functions with DIFFERENT OVER "
                    "partitions in one statement are not supported (state "
                    "is keyed once per statement); split the rule"
                )
            when_col = (
                add_temp(self._expr(call.when, ctx).cast("boolean"))
                if call.when is not None
                else None
            )
            name = call.name

            def probe(c: Column) -> T.DataType:
                try:
                    return df.select(c).schema[0].dataType
                except Exception:
                    return T.StringType()

            if name == "changed_cols":
                prefix = self._raw(call.args[0]) or ""
                ign_cc = bool(self._raw(call.args[1]))
                outs: list[tuple[str, str]] = []
                seen: set[str] = set()
                for a in call.args[2:]:
                    if isinstance(a, Wildcard):
                        expanded = [(F.col(c), c) for c in ctx.row_cols]
                    else:
                        base = a.name if isinstance(a, ColumnRef) else "col"
                        expanded = [(self._expr(a, ctx), base)]
                    for colx, base in expanded:
                        vis = f"{prefix}{base}"
                        if vis in seen:
                            continue
                        seen.add(vis)
                        oc = f"__an{out_i}"
                        out_i += 1
                        specs.append(AnalyticSpec(
                            kind="changed_col", out=oc, out_type=probe(colx),
                            in_cols=[add_temp(colx)], when_col=when_col,
                            ign=ign_cc,
                        ))
                        outs.append((oc, vis))
                ctx.cc_stream[key] = outs
                continue
            oc = f"__an{out_i}"
            out_i += 1
            if name == "lag":
                arg = self._expr(call.args[0], ctx)
                specs.append(AnalyticSpec(
                    kind="lag", out=oc, out_type=probe(arg),
                    in_cols=[add_temp(arg)], when_col=when_col,
                    n=int(self._raw(call.args[1])) if len(call.args) > 1 else 1,
                    default=self._raw(call.args[2]) if len(call.args) > 2 else None,
                    ign=bool(self._raw(call.args[3])) if len(call.args) > 3 else True,
                ))
            elif name == "latest":
                arg = self._expr(call.args[0], ctx)
                specs.append(AnalyticSpec(
                    kind="latest", out=oc, out_type=probe(arg),
                    in_cols=[add_temp(arg)], when_col=when_col,
                    default=self._raw(call.args[1]) if len(call.args) > 1 else None,
                ))
            elif name == "changed_col":
                arg = self._expr(call.args[1], ctx)
                specs.append(AnalyticSpec(
                    kind="changed_col", out=oc, out_type=probe(arg),
                    in_cols=[add_temp(arg)], when_col=when_col,
                    ign=bool(self._raw(call.args[0])),
                ))
            elif name == "had_changed":
                ins = [add_temp(self._expr(a, ctx)) for a in call.args[1:]]
                specs.append(AnalyticSpec(
                    kind="had_changed", out=oc, out_type=T.BooleanType(),
                    in_cols=ins, when_col=when_col,
                    ign=bool(self._raw(call.args[0])),
                ))
            elif name.startswith("acc_"):
                arg = self._expr(call.args[0], ctx)
                bc = rc = None
                if len(call.args) >= 3:
                    bc = add_temp(self._expr(call.args[1], ctx).cast("boolean"))
                    rc = add_temp(self._expr(call.args[2], ctx).cast("boolean"))
                specs.append(AnalyticSpec(
                    kind=name, out=oc,
                    out_type=T.LongType() if name == "acc_count" else T.DoubleType(),
                    in_cols=[add_temp(arg)], when_col=when_col,
                    begin_col=bc, reset_col=rc,
                ))
            else:
                raise NotImplementedError(
                    f"analytic function {name} unsupported in streaming"
                )
            ctx.analytic_map[key] = oc

        # A stateful window in the same statement means the analytic op
        # CANNOT run standalone (Spark allows one applyInPandasWithState
        # per streaming query): defer the specs for FUSION into the
        # window operator, which advances the analytic state per arriving
        # batch in stream order (reference AnalyticFuncsPlan below the
        # window).  Fusion currently covers the acc_* family (JSON-safe
        # numeric state) on globally-keyed COUNT/STATE/SESSION windows.
        if _pandas_state_window(stmt.group.window if stmt.group else None):
            # r10: the whole analytic family fuses (lag/latest/
            # changed_col/had_changed/changed_cols/acc_*) — the window op
            # advances the same _vector_spec state per arriving batch.
            # State persists as JSON; TIMESTAMP rides as tagged
            # epoch-micros and BINARY as tagged base64 (stateful.py
            # _an_default/_an_decode), so value-carrying kinds cross
            # micro-batches for every input type.
            # r11 partition-aware fusion: the op's per-key GroupState
            # carries the analytic state, so fusion is sound exactly when
            # the analytics' OVER(PARTITION BY) keys EQUAL the window's
            # STATE keys (_window_state_keys).  Coarser/finer keys would
            # split or merge analytic partitions across op keys.
            skeys = {canon(k) for k in _window_state_keys(stmt.group)[0]}
            if {canon(p) for p in parts} != skeys:
                raise NotImplementedError(
                    "analytic functions fuse into a stateful window only "
                    "when their OVER(PARTITION BY) keys EQUAL the "
                    "window's state keys (capped-session GROUP BY dims / "
                    "STATEWINDOW partition; none for COUNT/SLIDING): "
                    "per-key op state is then exactly the per-partition "
                    "analytic state (funcs_analytic.go:124-207); "
                    "otherwise analytic state is rule-global — run the "
                    "analytic in its own rule"
                )
            df2 = df.withColumns(temps)
            ctx.pending_analytics = specs
            return df2

        key_cols = [add_temp(self._expr(p, ctx)) for p in parts]
        df = df.withColumns(temps)
        df = analytic_state_stream(df, specs, key_cols, ctx.order_cols)
        return df.drop(*temps.keys())

    def _collect_analytic_calls(
        self, stmt: SelectStatement, ctx: TranslateCtx
    ) -> dict[str, FuncCall]:
        """All analytic/accumulator/changed_cols calls in fields + WHERE,
        keyed by canon."""
        calls: dict[str, FuncCall] = {}

        def is_analytic(n: Node) -> bool:
            return isinstance(n, FuncCall) and (
                n.name in fregistry.ANALYTIC
                or n.name.startswith("acc_")
                or n.name == "changed_cols"
            )

        def skip(n: Node) -> bool:
            # meta/mqtt args are metadata keys, not expressions
            return is_analytic(n) or _is_meta_call(n)

        def visit(n: Node, expanding: frozenset) -> None:
            for m in walk(n, skip):
                if is_analytic(m):
                    calls.setdefault(canon(m), m)
                elif isinstance(m, ColumnRef) and m.source is None:
                    key = m.name.lower()
                    tgt = ctx.aliases.get(key)
                    if tgt is not None and tgt is not m and key not in expanding:
                        visit(tgt, expanding | {key})

        for f in stmt.fields:
            visit(f.expr, frozenset([f.alias.lower()] if f.alias else []))
        visit(stmt.where, frozenset())
        return calls

    _HIT_FNS = ("last_hit_count", "last_hit_time", "last_agg_hit_count", "last_agg_hit_time")

    @staticmethod
    def _has_hit_fn(n: Node, aliases: Optional[dict] = None) -> bool:
        a = aliases or {}

        def hit(n: Node, expanding: frozenset) -> bool:
            for m in walk(n):
                if isinstance(m, FuncCall) and m.name in Translator._HIT_FNS:
                    return True
                # a select alias of a hit expression counts (`lc < 2` where
                # `last_hit_count() as lc`, rule_test.go:1338)
                if isinstance(m, ColumnRef) and m.source is None:
                    key = m.name.lower()
                    if key in a and key not in expanding and hit(a[key], expanding | {key}):
                        return True
            return False

        return hit(n, frozenset())

    def _split_where(self, where: Node, aliases: Optional[dict] = None):
        """Split WHERE conjuncts into (plain predicate, [agg-bearing],
        [last_hit_*-bearing]); alias map resolves select aliases when
        classifying."""
        conjs = conjuncts(where)
        aggy = [c for c in conjs if self._find_aggs(c)]
        hitty = [c for c in conjs if not self._find_aggs(c) and self._has_hit_fn(c, aliases)]
        plain = [c for c in conjs if c not in aggy and c not in hitty]
        return conjoin(plain), aggy, hitty

    def _sort_name(self, e: Node, stmt: SelectStatement) -> Optional[str]:
        """ORDER BY referencing an output alias -> sort on the output column."""
        if isinstance(e, ColumnRef) and e.source is None:
            for f in stmt.fields:
                if f.alias and f.alias.lower() == e.name.lower():
                    return f.alias
            out_names = {self._field_name(f) for f in stmt.fields if not isinstance(f.expr, Wildcard)}
            if e.name in out_names:
                return e.name
        return None

    # ------------------------------------------------------------------ #
    def _uses_meta(self, stmt: SelectStatement) -> bool:
        return any(
            _is_meta_call(n)
            for root in [*stmt.fields, stmt.where]
            for n in walk(root)
        )

    def _load_sources(self, stmt: SelectStatement, ctx: TranslateCtx) -> DataFrame:
        left_alias = stmt.source_alias or stmt.source
        df = self.catalog.load(
            self.spark,
            stmt.source,
            streaming=self.streaming,
            with_meta=self._uses_meta(stmt),
            used_cols=self._used_columns(stmt) if not stmt.joins else None,
        )
        df = df.alias(left_alias)
        ctx.source_aliases.add(left_alias.lower())
        ctx.source_order.append(left_alias)
        ctx.primary_alias = left_alias
        consumed: set[int] = set()
        for j in stmt.joins:
            if id(j) in consumed:
                continue
            r_alias = j.alias or j.source
            if (
                not self.streaming
                and stmt.group is not None
                and stmt.group.window is not None
                and stmt.group.window.kind == "sliding"
                and self._def_is_stream(stmt.source)
                and self._def_is_stream(j.source)
            ):
                # batch replay of the reference's window-then-join order:
                # the sliding window batches tuples from ALL streams (by
                # each stream's own arrival time), then the join runs over
                # each window's contents (window_op.go merged inputs ->
                # join_operator.go per-window scan, left-deep for 3+
                # streams).  A plain join + left-stream window is NOT
                # equivalent: triggers come from every stream and pairs
                # are gated per trigger frame.  Consecutive STREAM sides
                # chain into one call; trailing scan/lookup sides join
                # ungated below (side-input semantics).
                idx0 = stmt.joins.index(j)
                chain = [j]
                for jj in stmt.joins[idx0 + 1:]:
                    if self._def_is_stream(jj.source):
                        chain.append(jj)
                        consumed.add(id(jj))
                    else:
                        break
                df = self._batch_sliding_join(df, stmt, chain, ctx, left_alias)
                continue
            if self._is_stream_source(j.source) or (
                not self.streaming
                and self._def_is_stream(j.source)
                and stmt.group is not None
                and stmt.group.window is not None
                and stmt.group.window.kind in ("count", "tumbling", "hopping")
            ):
                # stream-stream join: the reference only allows it within a
                # window (planner.go:734-735 "a time window or count window
                # is required to join multiple streams") and the window
                # GATES the join — cross-window pairs never meet.  Spark
                # analog: an equi-join on the window bucket (watermarked in
                # streaming).  Scan/lookup TABLE sides below stay ungated
                # (side-input semantics).
                w = stmt.group.window if stmt.group is not None else None
                if w is not None and (
                    w.kind == "count" or (self.streaming and w.kind == "sliding")
                ):
                    # COUNT windows, and streaming SLIDING windows with any
                    # number of stream sides, consume the remaining join
                    # list in the chain compiler (stream sides pack into
                    # ONE window op joined left-deep, evalJoinSets;
                    # scan/lookup sides join after) and finalize the
                    # statement
                    idx = stmt.joins.index(j)
                    return self._window_join_chain(
                        df, stmt, ctx, left_alias, stmt.joins[idx:]
                    )
                df = self._stream_stream_join(df, stmt, j, ctx, left_alias)
                continue
            rdf = self.catalog.load(self.spark, j.source, streaming=False).alias(r_alias)
            ctx.source_aliases.add(r_alias.lower())
            ctx.source_order.append(r_alias)
            rdef = self.catalog.get(j.source)
            if rdef is not None and rdef.kind == "lookup":
                # lookup tables are point-query side inputs in the reference
                # (internal/topo/node/lookup_node.go); broadcast replaces the
                # per-event network round-trip + LRU cache wholesale.
                rdf = F.broadcast(rdf)
            if j.kind == "cross":
                df = df.crossJoin(rdf)
            else:
                # ON is optional in the reference grammar (parser.go:343):
                # a missing condition matches every windowed pair
                cond = self._expr(j.on, ctx) if j.on is not None else F.lit(True)
                df = df.join(rdf, on=cond, how=j.kind)
        return df

    def _is_stream_source(self, name: str) -> bool:
        """True when the join side is an unbounded stream (registered
        streaming DataFrame, or a CREATE STREAM def) rather than a
        scan/lookup table or injected batch frame."""
        injected = self.catalog._dfs.get(name.lower())
        if injected is not None:
            return injected.isStreaming
        d = self.catalog.get(name)
        return d is not None and d.kind == "stream"

    def _def_is_stream(self, name: str) -> bool:
        """True when the source is DECLARED as an unbounded stream (a
        CREATE STREAM def, or a registered streaming DataFrame) — even
        when a batch DataFrame is injected for it (the corpus-replay /
        trial-run pattern: mock rows stand in for the stream's history)."""
        injected = self.catalog._dfs.get(name.lower())
        if injected is not None and injected.isStreaming:
            return True
        d = self.catalog.get(name)
        return d is not None and d.kind == "stream"

    def _batch_sliding_join(
        self, ldf: DataFrame, stmt: SelectStatement, joins: list, ctx: TranslateCtx, left_alias: str
    ) -> DataFrame:
        """Batch per-event sliding window over a multi-stream join, in the
        reference's window-then-join order (window_op.go:593-619 scan over
        the MERGED inputs; join_operator.go:27-398 per-window join):

        - every tuple from ANY stream is a trigger; its frame is
          (t-L, t+D] over each stream's own event time,
        - the join runs within each trigger's frame contents (cross-frame
          pairs never meet; an empty join result emits nothing),
        - 3+ streams chain LEFT-DEEP like evalJoinSets
          (join_operator.go:282-398): ((s1 ⋈ s2) ⋈ s3)…, each step with
          its own ON and kind,
        - downstream GROUP BY/HAVING/projection treat (trigger, frame) as
          the window collection (``ctx.join_sliding_keys``).

        Join shape: each side membership-joins the shared trigger relation
        on a W-bucket equi-key plus the range predicate (the
        _sliding_membership_key technique), then the sides equi-join
        left-deep on the trigger key + each step's ON condition — all
        shuffles are keyed, no global sort.
        """
        if ctx.join_sliding_keys:
            raise NotImplementedError(
                "batch sliding-window join chain already consumed"
            )
        j = joins[0]
        extras = list(joins[1:])
        w = stmt.group.window
        L = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
        D = int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000) if len(w.args) > 1 else 0
        Wd = L + D
        r_alias = j.alias or j.source
        rdf = self.catalog.load(self.spark, j.source, streaming=False).alias(r_alias)
        ctx.source_aliases.add(r_alias.lower())
        ctx.source_order.append(r_alias)
        for _jk in joins:
            if _jk.kind not in ("inner", "left", "right", "full", "cross"):
                raise NotImplementedError(
                    f"sliding-window {_jk.kind} join is unsupported"
                )
        extra_sides: list[tuple[str, DataFrame, str]] = []
        for jj in extras:
            a2 = jj.alias or jj.source
            d2 = self.catalog.load(self.spark, jj.source, streaming=False).alias(a2)
            ctx.source_aliases.add(a2.lower())
            ctx.source_order.append(a2)
            extra_sides.append((a2, d2, jj.source))

        def _ev_us(sdf: DataFrame, alias: str, name: str):
            d = self.catalog.get(name)
            ec = self.event_col or (d.timestamp_col if d else None) or (
                "ts" if "ts" in sdf.columns else None
            )
            if ec is None:
                raise ValueError("sliding-window join requires event-time columns")
            col = F.col(f"{alias}.{ec}")
            if isinstance(sdf.schema[ec].dataType, T.VariantType):
                # dynamic stream: the event column carries epoch ms like
                # the reference's int64 tuple timestamps (string-typed
                # values parse leniently, mirroring cast.go)
                return col.try_cast("long") * 1000, True
            is_long = isinstance(sdf.schema[ec].dataType, T.LongType)
            return (col * 1000) if is_long else epoch_us(col), is_long

        def _side_has_variant(sdf: DataFrame, name: str) -> bool:
            return any(
                f.name == name and isinstance(f.dataType, T.VariantType)
                for f in sdf.schema.fields
            )

        # dynamic (schemaless) ON operands under SendError: the join
        # evaluates per (left, right) pair in scan order and the FIRST
        # kind-mismatch ABORTS the whole trigger's join, emitting one
        # error row (join_operator.go evalOn error return;
        # TestWindowErrorRule3) — so the pairs must materialize with the
        # comparison as a column, not as a join condition
        dyn_join = (
            self.on_error in ("emit", "omit")
            and j.on is not None
            and any(
                _side_has_variant(ldf, ref.name) or _side_has_variant(rdf, ref.name)
                for ref in self._find_raw_cols(j.on)
            )
        )
        if dyn_join:
            if j.kind != "inner" or extras:
                raise NotImplementedError(
                    "SendError sliding-window joins support INNER over "
                    "two streams (join_operator.go:27-398 error semantics)"
                )
            # in-side scan order ids, assigned BEFORE the membership
            # explode so bucket duplicates of a row share one identity
            ldf = ldf.withColumn("__lmid", F.monotonically_increasing_id())
            rdf = rdf.withColumn("__rmid", F.monotonically_increasing_id())

        lu, l_long = _ev_us(ldf, left_alias, stmt.source)
        ru, _ = _ev_us(rdf, r_alias, j.source)
        # trigger relation: every arrival from both streams, row-unique
        # (equal timestamps stay distinct windows).  An OVER(WHEN)
        # condition prunes trigger CANDIDATES per raw tuple with the
        # other stream's fields nil -> false (isMatchCondition,
        # window_op.go:757-784); pruned rows remain frame members.
        ldf_t, rdf_t = ldf, rdf
        gap_spec = None
        flag_node = None
        if w.trigger is not None:
            # `<src>.ts - last_hit_time() > K` disjunctions collapse to a
            # sequential gap-throttle over the MERGED trigger order
            # (TestEventWindowRule3; lastHit advances on trigger hits);
            # any OTHER boolean evaluates statelessly per tuple; a
            # top-level AND combines one gap conjunct with flag conjuncts
            gap_spec, flag_node = self._split_trigger(w.trigger, l_long)
            if flag_node is not None:
                ldf_t = ldf.filter(
                    self._trigger_nil_other(
                        flag_node, ctx, left_alias, list(ldf.columns), r_alias
                    )
                )
                rdf_t = rdf.filter(
                    self._trigger_nil_other(
                        flag_node, ctx, r_alias, list(rdf.columns), left_alias
                    )
                )
        extra_us: list = []
        trig_parts = [ldf_t.select(lu.alias("__tu")), rdf_t.select(ru.alias("__tu"))]
        for a2, d2, nm2 in extra_sides:
            eu, _ = _ev_us(d2, a2, nm2)
            extra_us.append(eu)
            d2t = d2
            if flag_node is not None:
                d2t = d2.filter(
                    self._trigger_nil_other(
                        flag_node, ctx, a2, list(d2.columns), ""
                    )
                )
            trig_parts.append(d2t.select(eu.alias("__tu")))
        trig = trig_parts[0]
        for _p in trig_parts[1:]:
            trig = trig.unionAll(_p)
        # DETERMINISTIC per-timestamp ids: the trigger relation carries only
        # __tu, so trigger identity merely has to keep equal-timestamp
        # arrivals distinct — k arrivals at u become (u, 1..k).  The ids are
        # interchangeable (each same-u trigger's frame is identical), so the
        # output is invariant to which arrival gets which id.  The previous
        # monotonically_increasing_id() was only consistent across the two
        # membership joins while the persisted relation was never
        # recomputed; a recompute could re-id triggers mid-query and
        # null-extend LEFT-join frames (flaked once in a full-suite run,
        # tests/test_stream_stream_join.py::test_batch_sliding_join_three_streams_duckdb).
        trig = (
            trig.groupBy("__tu")
            .agg(F.count(F.lit(1)).alias("__tn"))
            .select(
                "__tu",
                F.explode(F.sequence(F.lit(1), F.col("__tn"))).alias("__ttid"),
            )
        )
        if gap_spec is not None:
            k_us, ge = gap_spec
            trig = self._sequential_throttle(
                trig.select("__tu", "__ttid"), "__tu", k_us, ge
            )
        # BOTH membership joins read this relation and recompute it past
        # the shared scan exchange (ReusedExchange): the (u, 1..k) ids and
        # the throttle's (u, id)-ordered scan give the same triggers on
        # every recompute, so it needs no cache
        triggers = trig.select(
            "__tu",
            F.struct(F.col("__tu").alias("u"), F.col("__ttid").alias("t0")).alias("__tkey"),
            F.floor(F.col("__tu") / Wd).alias("__tb"),
        )

        def _members(sdf: DataFrame, ucol, tkey_name: str, tu_name: str) -> DataFrame:
            # row u belongs to trigger t iff t-L <= u <= t+D (right bound
            # EXCLUSIVE with delay — same contract as
            # _sliding_membership_key), i.e. t in (u-D, u+L]: an interval
            # of width W spanning <= 2 W-buckets
            b1 = F.floor((ucol - D) / Wd)
            b2 = F.floor((ucol + L) / Wd)
            rows = sdf.withColumn("__mu", ucol).withColumn(
                "__mb", F.explode_outer(F.array_distinct(F.array(b1, b2)))
            )
            t = triggers.withColumnRenamed("__tkey", tkey_name).withColumnRenamed(
                "__tu", tu_name
            )
            right_ok = (
                (rows["__mu"] < t[tu_name] + D)
                if D
                else (rows["__mu"] <= t[tu_name])
            )
            return rows.join(
                t,
                (rows["__mb"] == t["__tb"])
                & (rows["__mu"] >= t[tu_name] - L)
                & right_ok,
            ).drop("__mb", "__tb", "__mu")

        lm = _members(ldf, lu, "__tkey", "__tu").withColumn("__muL", lu)
        rm = _members(rdf, ru, "__tkR", "__tuR").withColumn("__muR", ru)
        cond = F.col("__tkey") == F.col("__tkR")
        if dyn_join:
            # all pairs per trigger, ON evaluated as a column so kind
            # mismatches surface; scan order = left tuples in window
            # order, right tuples inner (the reference's nested loop)
            pairs = lm.join(rm, on=cond, how="inner")
            self._cur_df = pairs
            ctx.dyn_errs = []
            onc = self._expr(j.on, ctx)
            de, ctx.dyn_errs = ctx.dyn_errs, []
            err = (
                (F.coalesce(*de) if len(de) > 1 else de[0])
                if de
                else F.lit(None).cast("string")
            )
            ordk = F.struct(
                F.col("__muL").alias("a"), F.col("__lmid").alias("b"),
                F.col("__muR").alias("c"), F.col("__rmid").alias("d"),
            )
            wsp = W.partitionBy("__tkey")
            first_err = F.min(
                F.when(err.isNotNull(), F.struct(ordk.alias("o"), err.alias("e")))
            ).over(wsp)
            pairs = (
                pairs.withColumn("__pe", err)
                .withColumn("__fe", first_err)
                .withColumn("__ok", F.coalesce(onc, F.lit(False)))
            )
            keep = F.when(
                F.col("__fe").isNotNull(), F.col("__fe.o") == ordk
            ).otherwise(F.col("__ok"))
            out = (
                pairs.filter(keep)
                .withColumn(
                    "__jerr",
                    F.when(
                        F.col("__fe").isNotNull(),
                        F.concat(F.lit("run Join error: "), F.col("__fe.e")),
                    ),
                )
                .drop("__fe", "__pe", "__ok", "__lmid", "__rmid")
            )
        elif j.kind == "cross":
            out = lm.join(rm, on=cond, how="inner")
        else:
            out = lm.join(rm, on=cond & self._expr(j.on, ctx), how=j.kind)
        # chain additional streams LEFT-DEEP (evalJoinSets,
        # join_operator.go:282-398): each step equi-joins the accumulated
        # set's (coalesced — outer steps may null it) trigger key against
        # the new side's membership, plus the step's own ON condition
        acc_key = F.coalesce(F.col("__tkey"), F.col("__tkR"))
        tu_cols = [F.col("__tu"), F.col("__tuR")]
        mu_cols = [F.col("__muL"), F.col("__muR")]
        drop_extra: list[str] = []
        for i, jj in enumerate(extras):
            a2, d2, _nm2 = extra_sides[i]
            eu = extra_us[i]
            m2 = _members(d2, eu, f"__tk{i}", f"__tux{i}").withColumn(
                f"__mux{i}", eu
            )
            condk = acc_key == F.col(f"__tk{i}")
            if jj.kind == "cross":
                out = out.join(m2, on=condk, how="inner")
            else:
                onc = (
                    self._expr(jj.on, ctx) if jj.on is not None else F.lit(True)
                )
                out = out.join(m2, on=condk & onc, how=jj.kind)
            acc_key = F.coalesce(acc_key, F.col(f"__tk{i}"))
            tu_cols.append(F.col(f"__tux{i}"))
            mu_cols.append(F.col(f"__mux{i}"))
            drop_extra += [f"__tk{i}", f"__tux{i}", f"__mux{i}"]
        u = F.coalesce(*tu_cols)
        u_any = F.coalesce(*mu_cols)
        out = (
            out.withColumn("__tkey", acc_key)
            .withColumn(
                "window",
                F.struct(
                    F.timestamp_micros(u - L).alias("start"),
                    F.timestamp_micros(u + D).alias("end"),
                ),
            )
            # row order within a frame = reference join scan order: left
            # tuples in window order, then each joined side inner
            # (JoinTuples, left-deep) — used for first-of-frame raw
            # columns in aggregated queries
            .withColumn(
                "__rowu",
                F.struct(
                    *[
                        F.coalesce(c, u_any).alias(f"o{k}")
                        for k, c in enumerate(mu_cols)
                    ]
                ),
            )
            .drop("__tkR", "__tu", "__tuR", "__muL", "__muR", *drop_extra)
        )
        ctx.join_sliding_keys = ["__tkey", "window"]
        ctx.window_col = "window"
        if l_long:
            ctx.window_bounds_ms = True
        return out

    _JOIN_STREAM_AGG_OPS = {
        "count": "count", "sum": "sum", "avg": "avg", "min": "min", "max": "max",
        "stddev": "stddev", "stddevs": "stddevs", "var": "var", "vars": "vars",
        "median": "median", "collect": "collect", "last_value": "last_value",
        "percentile_cont": "percentile_cont", "percentile_disc": "percentile_disc",
    }
    # ops whose extra argument (percentile p / ignoreNull) rides on the spec
    _JOIN_AGG_ARG_OPS = {"percentile_cont", "percentile_disc", "last_value"}

    def _inline_aliases(self, node: Node, ctx: TranslateCtx) -> Node:
        """Rewrite select-alias ColumnRefs to their target expressions
        (recursively) so an AST can be evaluated outside the Catalyst
        alias-resolution path (pdeval closures).  An alias is not expanded
        inside its own expansion (`a + 1 AS a` reads the source's `a`)."""

        def inline(n: Node, expanding: frozenset) -> Node:
            def fn(m: Node) -> Optional[Node]:
                if _is_meta_call(m):
                    return m  # args are metadata keys, not columns
                if isinstance(m, ColumnRef) and m.source is None:
                    key = m.name.lower()
                    tgt = ctx.aliases.get(key)
                    if tgt is None or key in expanding:
                        return m
                    return inline(tgt, expanding | {key})
                return None

            return transform(n, fn)

        return inline(node, frozenset())

    # calls that must never be hoisted out of their operator position:
    # stateful/positional bookkeeping, window metadata, and the analytic
    # family (hoisted through their own pre-pass, not this one)
    _PD_NO_PRECOMPUTE = frozenset({
        "last_hit_count", "last_hit_time", "last_agg_hit_count",
        "last_agg_hit_time", "dedup_trigger", "get_keyed_state",
        "set_keyed_state", "event_time", "rule_id", "rule_start",
        "window_start", "window_end", "window_trigger", "row_number",
        "lag", "latest", "changed_col", "had_changed", "changed_cols",
        # nondeterministic: the reference evaluates per JOINED row; a
        # per-side precompute would fix one value per source row
        "rand", "newuuid", "now", "current_timestamp", "local_timestamp",
    })

    def _rewrite_singleside(self, node: Node, side_fn, attach, allow):
        """Precompute maximal SINGLE-SIDE complex subtrees of a stateful-
        join expression as native Catalyst columns upstream of the op, so
        the in-op pdeval lane only evaluates the truly mixed-side glue
        (operators/comparisons over the precomputed columns).  This is
        how arbitrary scalar expressions reach join WHERE/ON/dims in
        streaming: the reference evaluates the full valuer surface there
        (internal/xsql/valuer.go:297-1283); here Catalyst — the fully
        oracle-pinned lane — evaluates everything that belongs to one
        side, which is every expression except those genuinely mixing
        both streams inside one call.

        ``side_fn(n)`` -> side token, "M" when mixed/unknown;
        ``allow(n, side)`` gates null-extension-sensitive subtrees under
        outer joins; ``attach(n, side)`` materializes the column and
        returns the replacement ColumnRef.  Subtrees containing
        aggregates, analytic OVER forms, or stateful/positional calls
        are left untouched (their sites keep the honest raise)."""

        def blocked(n: Node) -> bool:
            return any(
                isinstance(m, FuncCall)
                and (
                    m.name.lower() in self._PD_NO_PRECOMPUTE
                    or _is_over_call(m)
                    or fregistry.is_aggregate(m.name)
                )
                for m in walk(n)
            )

        def fn(n: Node) -> Optional[Node]:
            if isinstance(n, (Literal, ColumnRef, Wildcard)):
                return n
            if self._find_raw_cols(n) and not blocked(n):
                s = side_fn(n)
                if s != "M" and allow(n, s):
                    return attach(n, s)
            if _is_over_call(n):
                return n
            if isinstance(n, Like):
                # the pattern stays as written
                return Like(transform(n.expr, fn), n.pattern, n.negated, n.escape)
            return None

        return transform(node, fn)

    def _split_trigger(self, trigger: Node, is_long: bool):
        """Decompose an OVER(WHEN) trigger into (gap_throttle_spec,
        per_tuple_flag_node) — either may be None.  A pure gap form
        (incl. OR-of-gap disjunctions) maps to the sequential throttle
        alone; any boolean WITHOUT last_hit_* becomes a stateless
        per-tuple flag; a top-level AND may combine ONE gap conjunct
        with flag conjuncts — cond = flag AND gap means lastHit advances
        only on FULL hits, so flag-gating candidates before the
        sequential gate is exact (isMatchCondition,
        window_op.go:757-784).  last_hit_* in any other position
        raises."""
        spec = self._join_gap_throttle_spec(trigger, is_long)
        if spec is not None:
            return spec, None
        gap = None
        flags: list[Node] = []
        for c in conjuncts(trigger):
            s = self._join_gap_throttle_spec(c, is_long)
            if s is not None:
                if gap is not None:
                    raise NotImplementedError(
                        "sliding-window join triggers support at most one "
                        "gap-throttle conjunct"
                    )
                gap = s
            elif any(self._find_fn_calls(c, h) for h in self._HIT_FNS):
                raise NotImplementedError(
                    "sliding-window join triggers combining last_hit_* "
                    "with other predicates support only "
                    "'<flag> AND <stream>.ts - last_hit_time() > K' "
                    "(window_op.go isMatchCondition)"
                )
            else:
                flags.append(c)
        return gap, conjoin(flags)

    def _trigger_nil_other(
        self, trigger: Node, ctx: TranslateCtx,
        own_alias: str, own_cols: list, other_alias: str,
    ) -> Column:
        """Compile an OVER(WHEN) trigger condition for raw tuples of ONE
        side: the reference's isMatchCondition evaluates the boolean per
        arriving tuple, where the OTHER stream's fields resolve to nil
        (-> condition false, window_op.go:757-784).  Refs owned by this
        side keep their resolution; everything else becomes NULL, and the
        whole condition coalesces to false."""
        own_l = own_alias.lower()

        def sub(ref: ColumnRef) -> Node:
            s = (ref.source or "").lower()
            if s == own_l or (not s and ref.name in own_cols):
                return ref
            return Literal(None)

        node = transform(
            self._inline_aliases(trigger, ctx),
            lambda n: sub(n) if isinstance(n, ColumnRef) else None,
        )
        return F.coalesce(self._expr(node, ctx).cast("boolean"), F.lit(False))

    def _nullrow_yields_null(self, node: Node, ctx: TranslateCtx, union: DataFrame) -> bool:
        """Does the expression evaluate to NULL over an all-null row?
        When yes, precomputing it per side is sound under outer-join
        null extension: the in-op evaluation over a null-extended side
        would also be null, which is exactly what the missing
        precomputed column yields.  When no (e.g. ``coalesce(l.x, 0)``),
        the precomputed column's null on extended rows would DRIFT from
        the reference's joined-tuple evaluation — the caller must keep
        the in-op lane or raise.  One driver-side 1-row job, compile
        time only."""
        try:
            schema = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in union.schema.fields]
            )
            row = self.spark.createDataFrame(
                [tuple([None] * len(schema.fields))], schema
            )
            v = row.select(self._expr(node, ctx).alias("__p")).collect()[0][0]
            return v is None
        except Exception:
            return False

    def _window_join_chain(
        self, ldf: DataFrame, stmt: SelectStatement, ctx: TranslateCtx,
        left_alias: str, joins: list,
    ) -> DataFrame:
        """Windowed join of two or more streams in the reference's
        window-then-join order (planner.go:734-735 allows "a time window
        or count window"; fvt/rule_test.go TestJoinWithLookup): the window
        op batches tuples from ALL streams, JoinOp joins each window's
        per-emitter groups left-to-right (evalJoinSets,
        join_operator.go:282-398, each step with its own ON/kind), then
        any scan/lookup sides join as ungated side inputs.

        Spark mapping: the stream sides pack into one tagged union
        (``__src`` = S0..Sn, side i>0 columns renamed ``__s<i>_<c>``).
        - COUNT windows: batch assigns window ids natively and joins each
          window DISTRIBUTED by wid (joinstate.count_join_batch);
          streaming runs the chain in one stateful op
          (count_join_stream).
        - streaming SLIDING windows: every arrival triggers a frame scan
          in one stateful op (sliding_join_chain_stream), with OVER(WHEN)
          triggers (per-side nil-other flags + gap-throttle), window
          delay and last_hit_count emission gates.  Batch sliding joins
          take _batch_sliding_join instead.
        Streaming ops run in a single state partition (the reference's
        single-process window+join chain, warned).

        ON: equi conjuncts precompute natively per side; residuals
        compile to pdeval lanes over the candidate pairs (an INNER
        content-mode residual outside that subset filters the op's
        output natively instead).  WHERE/HAVING
        over the joined windows, GROUP BY dims and mixed-side
        expressions evaluate in-op (single-side subtrees precompute
        natively); expressions outside the pdeval subset raise.
        """
        import warnings

        from ekuiper_spark.streaming.joinstate import (
            JoinAggSpec, count_join_batch, count_join_stream,
            sliding_join_chain_stream,
        )

        w = stmt.group.window
        sliding = w.kind == "sliding"
        if sliding:
            _lbl = "sliding-window join chain"
            length_us = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
            delay_us = (
                int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000)
                if len(w.args) > 1 and w.args[1]
                else 0
            )
        else:
            _lbl = "COUNT window join"
            n = int(w.args[0])
        # WHERE filters JOINED pairs (FilterPlan above JoinPlan,
        # planner.go:797); agg conjuncts merge into HAVING — same routing
        # as the sliding join
        where_pre = None
        having = stmt.having
        hit_conjs: list = []
        if stmt.where is not None:
            where_pre, agg_conjs, hit_conjs = self._split_where(
                stmt.where, ctx.aliases
            )
            if hit_conjs:
                if not sliding:
                    raise NotImplementedError(
                        f"last_hit_* conjuncts over a {_lbl} are unsupported"
                    )
                # sliding chain: last_hit_count gates the emission
                # sequence in-op (compiled below once fm exists);
                # last_hit_time over a JOINED collection is a reference
                # error (row.go:549-556)
                if any("time" in (canon(h) or "") for h in hit_conjs):
                    raise ValueError(
                        "call last_hit_time error: cannot get current time "
                        "(last_hit_time() over a JOINED collection — "
                        "JoinTuple rows carry no event_time FuncValue, "
                        "row.go:549-556)"
                    )
            having = conjoin([having, *agg_conjs])
        stream_joins = [j for j in joins if self._def_is_stream(j.source)]
        static_joins = [j for j in joins if not self._def_is_stream(j.source)]
        for j in stream_joins:
            if j.kind not in ("inner", "left", "right", "full", "cross"):
                raise NotImplementedError(
                    f"{_lbl}: {j.kind} join is unsupported"
                )
        sl_long = False
        if sliding:
            # epoch-ms LEFT event column → window bounds render as ms
            d0 = self.catalog.get(stmt.source)
            ec0 = self.event_col or (d0.timestamp_col if d0 else None) or (
                "ts" if "ts" in ldf.columns else None
            )
            sl_long = ec0 is not None and isinstance(
                ldf.schema[ec0].dataType, T.LongType
            )
        # OVER(WHEN) triggers on the sliding chain: gap-throttle conjunct
        # -> the op's sequential lastHit gate; any other boolean -> a
        # per-side __twhen flag with ALL other streams' fields nil
        # (isMatchCondition, window_op.go:757-784)
        sl_throttle = sl_flag = None
        if sliding and w.trigger is not None:
            sl_throttle, sl_flag = self._split_trigger(w.trigger, sl_long)
        if self.streaming:
            warnings.warn(
                f"streaming {_lbl}: all rows route through ONE "
                "state partition (the reference's single-process "
                "window+join chain).",
                UserWarning,
                stacklevel=6,
            )

        # ---- pack the tagged union ---------------------------------------
        def _arrival(sdf: DataFrame, alias: str, name: str):
            d = self.catalog.get(name)
            ec = self.event_col or (d.timestamp_col if d else None) or (
                "ts" if "ts" in sdf.columns else None
            )
            if ec is not None:
                col = F.col(f"{alias}.{ec}")
                if isinstance(sdf.schema[ec].dataType, T.LongType):
                    return col * 1000
                return epoch_us(col)
            if sliding:
                # sliding frames are event-time ranges — arrival-order
                # fallbacks would silently misplace the lookback
                raise ValueError(
                    "sliding-window join requires event-time columns"
                )
            if "__seq" in sdf.columns:
                return F.col(f"{alias}.__seq")
            return F.lit(0).cast("long")

        sides: list[tuple[str, DataFrame, str, list[str], dict[str, str]]] = []
        # (tag, df, alias, visible cols, col -> flat name)
        l_cols = [c for c in ldf.columns if c != "__seq"]
        sides.append(("S0", ldf, left_alias, l_cols, {c: c for c in l_cols}))
        for i, j in enumerate(stream_joins):
            r_alias = j.alias or j.source
            rdf = self.catalog.load(
                self.spark, j.source, streaming=self.streaming
            ).alias(r_alias)
            ctx.source_aliases.add(r_alias.lower())
            ctx.source_order.append(r_alias)
            cols = [c for c in rdf.columns if c != "__seq"]
            sides.append(
                (f"S{i+1}", rdf, r_alias, cols, {c: f"__s{i+1}_{c}" for c in cols})
            )

        # WHERE over an AGGREGATED count-window join: FilterPlan above
        # JoinPlan prunes joined PAIRS — windows still fill from ALL rows
        # (pre-filtering would shift count-window membership).  Single-
        # side AND conjuncts factorize into per-side keep flags carried
        # through the union; the op filters the joined chain on their
        # conjunction.  INNER/CROSS chains only (outer kinds would need
        # conjunct-on-NULL evaluation for null-extended rows).
        def _cw_side_of(node: Node) -> Optional[int]:
            """Owning side index of a single-side expression, else None."""
            _ab = {s[2].lower(): idx for idx, s in enumerate(sides)}
            side_idx: Optional[int] = None
            for ref in self._find_raw_cols(node):
                s = (ref.source or "").lower()
                if s and s in _ab:
                    cand: Optional[int] = _ab[s]
                elif not s:
                    owners = [i2 for i2, sd in enumerate(sides) if ref.name in sd[3]]
                    cand = owners[0] if len(owners) == 1 else None
                else:
                    cand = None
                if cand is None or (side_idx is not None and cand != side_idx):
                    return None
                side_idx = cand
            return side_idx

        # GROUP BY dims over the joined count window (window-then-join-
        # then-aggregate): single-side dim expressions compute natively
        # on the owning side; the op sub-groups each window's joined
        # content — one row per (window, dim value)
        cw_sub_info: list[tuple] = []  # (dim node, flat col name)
        cw_mixed_dims: list[tuple] = []  # mixed-side dims, compiled post-union
        if stmt.group.dims:
            new_sides0 = list(sides)
            for di, d in enumerate(stmt.group.dims):
                side_idx = _cw_side_of(d)
                if side_idx is None:
                    # mixed-side dim: a pdeval closure the op evaluates on
                    # the joined chain (r10, same lift as the sliding join)
                    kn = f"__mdim{di}"
                    cw_sub_info.append((d, kn))
                    cw_mixed_dims.append((d, kn))
                    continue
                tag0, sdf0, alias0, cols0, flat0 = new_sides0[side_idx]
                kn = f"__dim{di}"
                sdf0 = sdf0.withColumn(kn, self._expr(d, ctx)).alias(alias0)
                flat0 = dict(flat0)
                flat0[kn] = kn
                new_sides0[side_idx] = (tag0, sdf0, alias0, cols0 + [kn], flat0)
                cw_sub_info.append((d, kn))
            sides = new_sides0

        pair_keep_flags: list[str] = []
        _cw_fields_agg = any(self._find_aggs(f.expr) for f in stmt.fields) or bool(
            cw_sub_info
        )
        if (
            where_pre is not None
            and _cw_fields_agg
            and not static_joins
            and all(jn.kind in ("inner", "cross") for jn in stream_joins)
        ):
            _conjs = conjuncts(where_pre)
            _alias_by = {s[2].lower(): idx for idx, s in enumerate(sides)}
            _per_side: dict[int, list[Node]] = {}
            _ok = True
            for c in _conjs:
                side_idx: Optional[int] = None
                for ref in self._find_raw_cols(c):
                    s = (ref.source or "").lower()
                    if s and s in _alias_by:
                        cand: Optional[int] = _alias_by[s]
                    elif not s:
                        owners = [
                            i2 for i2, sd in enumerate(sides) if ref.name in sd[3]
                        ]
                        cand = owners[0] if len(owners) == 1 else None
                    else:
                        cand = None
                    if cand is None or (side_idx is not None and cand != side_idx):
                        side_idx = None
                        break
                    side_idx = cand
                if side_idx is None:
                    _ok = False
                    break
                _per_side.setdefault(side_idx, []).append(c)
            if _ok and _per_side:
                new_sides = []
                for idx, (tag, sdf, alias, cols, flat) in enumerate(sides):
                    if idx in _per_side:
                        kn = f"__keep{idx}"
                        kexpr = None
                        for c in _per_side[idx]:
                            e = F.coalesce(
                                self._expr(c, ctx).cast("boolean"), F.lit(False)
                            )
                            kexpr = e if kexpr is None else (kexpr & e)
                        sdf = sdf.withColumn(kn, kexpr).alias(alias)
                        cols = cols + [kn]
                        flat = dict(flat)
                        flat[kn] = kn
                        pair_keep_flags.append(kn)
                    new_sides.append((tag, sdf, alias, cols, flat))
                sides = new_sides
                where_pre = None

        # per-side OVER(WHEN) flags compile BEFORE the flat map exists —
        # refs must resolve against each side's own columns, not the
        # packed union's flat names
        sl_side_flags = None
        if sl_flag is not None:
            sl_side_flags = [
                self._trigger_nil_other(sl_flag, ctx, s[2], s[3], "")
                for s in sides
            ]

        fm: dict[str, str] = dict(ctx.flat_col_map)
        seen: dict[str, int] = {}
        for _t, _df, alias, cols, flat in sides:
            for c in cols:
                fm[f"{alias.lower()}.{c.lower()}"] = flat[c]
                seen[c.lower()] = seen.get(c.lower(), 0) + 1
        for _t, _df, alias, cols, flat in sides:
            for c in cols:
                if seen[c.lower()] == 1:
                    fm.setdefault(c.lower(), flat[c])
        ctx.flat_col_map = fm

        # equi keys per stream join: one operand on the NEW side, the
        # other on any EARLIER side (resolved through the flat map)
        join_specs: list[dict] = []
        for i, j in enumerate(stream_joins):
            new_alias = (j.alias or j.source).lower()
            earlier = {s[2].lower() for s in sides[: i + 1]}
            if j.kind == "cross":
                join_specs.append({"how": "cross", "lkeys": [], "rkeys": []})
                continue
            pairs: list[tuple[str, str]] = []

            def side_of(node):
                if isinstance(node, ColumnRef):
                    if node.source is None:
                        tgt = ctx.aliases.get(node.name.lower())
                        return side_of(tgt) if tgt is not None else None
                    s = node.source.lower()
                    if s == new_alias:
                        return ("R", node.name)
                    if s in earlier:
                        return ("L", f"{s}.{node.name.lower()}")
                return None

            residual2: list[Node] = []
            for cnj in conjuncts(j.on):
                matched = False
                if isinstance(cnj, Binary) and cnj.op == "=":
                    a, b = side_of(cnj.left), side_of(cnj.right)
                    if a and b and {a[0], b[0]} == {"L", "R"}:
                        l = a if a[0] == "L" else b
                        r = b if b[0] == "R" else a
                        pairs.append((l[1], r[1]))
                        matched = True
                if not matched:
                    residual2.append(cnj)
            flat_r = sides[i + 1][4]
            spec2: dict = {
                "how": j.kind,
                "lkeys": [fm[p[0]] for p in pairs],
                "rkeys": [flat_r[p[1]] for p in pairs],
            }
            if residual2:
                # non-equi residual: candidates merge on the equi subset
                # (cross when none) and a pdeval lane filters them,
                # preserved sides null-extending — compiled post-union
                spec2["__residual"] = conjoin(residual2)
                spec2["__avail"] = {
                    s[4][c] for s in sides[: i + 2] for c in s[3]
                }
            join_specs.append(spec2)

        all_flat: list[tuple[str, T.DataType]] = []
        for _t, sdf, alias, cols, flat in sides:
            for c in cols:
                all_flat.append((flat[c], sdf.schema[c].dataType))
        selects = []
        for s_i, (_t, sdf, alias, cols, flat) in enumerate(sides):
            mine = {flat[c]: F.col(f"{alias}.{c}").alias(flat[c]) for c in cols}
            sel_cols = [
                F.lit(_t).alias("__src"),
                _arrival(sdf, alias, alias).cast("long").alias("__u"),
                *[
                    mine.get(name, F.lit(None).cast(dt).alias(name))
                    for name, dt in all_flat
                ],
            ]
            if sl_side_flags is not None:
                sel_cols.append(sl_side_flags[s_i].alias("__twhen"))
            selects.append(sdf.select(*sel_cols))
        union = selects[0]
        for s in selects[1:]:
            union = union.unionByName(s)

        side_cols = [(s[0], [s[4][c] for c in s[3]]) for s in sides]

        # ---- post-union pdeval compilation (mixed dims, ON residuals,
        # in-op WHERE) — the union carries every flat column, so Catalyst
        # types the expressions and the closures resolve through fm ------
        cw_int_types = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        cw_int_cols = {nm for nm, dt in all_flat if isinstance(dt, cw_int_types)}
        # flat column -> owning side tag, for the single-side precompute
        # fallback (sliding-join parity: valuer.go evaluates the full
        # expression surface between JoinOp and ProjectOp)
        cw_owner = {s[4][c]: s[0] for s in sides for c in s[3]}
        # sides a chain step can null-extend: a LEFT step extends its NEW
        # side, RIGHT extends every earlier side, FULL both
        cw_ext_tags: set = set()
        for _i, _j in enumerate(stream_joins):
            if _j.kind in ("left", "full"):
                cw_ext_tags.add(sides[_i + 1][0])
            if _j.kind in ("right", "full"):
                cw_ext_tags.update(s[0] for s in sides[: _i + 1])
        side_cols = [(t, list(cs)) for t, cs in side_cols]
        _cw_pc = [0]

        def _cw_closure(
            node: Node, what: str, avail: Optional[set] = None,
            null_extend_sensitive: bool = True,
        ):
            from ekuiper_spark.streaming.pdeval import compile_pd

            nonlocal union
            node2 = self._inline_aliases(node, ctx)

            def resolve(ref: ColumnRef) -> Optional[str]:
                k = (
                    f"{ref.source.lower()}.{ref.name.lower()}"
                    if ref.source else ref.name.lower()
                )
                flat2 = fm.get(k)
                if flat2 is not None and avail is not None and flat2 not in avail:
                    raise NotImplementedError(
                        f"ON condition references a side joined LATER in "
                        f"the chain ({ref.name})"
                    )
                return flat2

            def _compile(n2: Node):
                fnc2 = compile_pd(n2, resolve, int_cols=cw_int_cols)
                dt2 = union.select(
                    self._expr(n2, ctx).alias("__p")
                ).schema[0].dataType
                return fnc2, dt2

            try:
                return _compile(node2)
            except NotImplementedError as first_err:
                avail_tags = (
                    {cw_owner[f2] for f2 in avail if f2 in cw_owner}
                    if avail is not None
                    else {s[0] for s in sides}
                )

                def side_fn(n: Node) -> str:
                    tags = set()
                    for ref in self._find_raw_cols(n):
                        k = (
                            f"{ref.source.lower()}.{ref.name.lower()}"
                            if ref.source else ref.name.lower()
                        )
                        flat2 = fm.get(k)
                        t2 = cw_owner.get(flat2) if flat2 else None
                        if t2 is None or t2 not in avail_tags:
                            return "M"
                        tags.add(t2)
                    return tags.pop() if len(tags) == 1 else "M"

                def allow(n: Node, side: str) -> bool:
                    if not null_extend_sensitive or side not in cw_ext_tags:
                        return True
                    return self._nullrow_yields_null(n, ctx, union)

                def attach(n: Node, side: str) -> ColumnRef:
                    nonlocal union
                    name = f"__cpc{_cw_pc[0]}"
                    _cw_pc[0] += 1
                    col = self._expr(n, ctx)
                    dt2 = union.select(col.alias(name)).schema[0].dataType
                    union = union.withColumn(name, col)
                    fm[name] = name
                    if isinstance(dt2, cw_int_types):
                        cw_int_cols.add(name)
                    for _t, _cs in side_cols:
                        if _t == side:
                            _cs.append(name)
                    cw_owner[name] = side
                    if avail is not None:
                        avail.add(name)
                    return ColumnRef(name=name)

                try:
                    node3 = self._rewrite_singleside(
                        node2, side_fn, attach, allow
                    )
                    return _compile(node3)
                except NotImplementedError:
                    raise NotImplementedError(
                        f"{_lbl} {what} uses a mixed-side "
                        f"expression outside the in-op subset "
                        f"({first_err}); rewrite or use a time window"
                    ) from None


        # ---- aggregate vs content mode -----------------------------------
        agg_nodes: dict[str, FuncCall] = {}
        for f in stmt.fields:
            for a in self._find_aggs(f.expr):
                agg_nodes.setdefault(canon(a), a)
        specs: list[JoinAggSpec] = []
        cw_merged_cols: list[tuple] = []
        cw_merged_types: dict[str, T.DataType] = {}

        def _agg_spec_arg2(call: FuncCall, op: str):
            if op not in self._JOIN_AGG_ARG_OPS:
                return None
            if op == "last_value":
                return bool(self._raw(call.args[1])) if len(call.args) > 1 else False
            return float(self._raw(call.args[1]))

        def _agg_spec(call: FuncCall, out_name: str) -> "JoinAggSpec":
            op = self._JOIN_STREAM_AGG_OPS.get(call.name.lower())
            if op is None:
                raise NotImplementedError(
                    f"{call.name} is unsupported over a {_lbl}"
                )
            args = [a for a in call.args if not isinstance(a, Wildcard)]
            if op in self._JOIN_AGG_ARG_OPS:
                args = args[:1]
            in_col = None
            if args:
                ref = args[0]
                if isinstance(ref, ColumnRef):
                    k = (
                        f"{ref.source.lower()}.{ref.name.lower()}"
                        if ref.source else ref.name.lower()
                    )
                    in_col = fm.get(k)
                    if in_col is None:
                        raise ValueError(f"unknown column {ref.name}")
                else:
                    # expression input (sliding-join parity): compile via
                    # the in-op lane — the single-side precompute fallback
                    # inside _cw_closure materializes everything that
                    # belongs to one side natively; only mixed glue stays
                    # in-op as a merged column
                    in_col = f"__min{len(cw_merged_cols)}"
                    fnc, dt = _cw_closure(ref, "aggregate input")
                    cw_merged_cols.append((in_col, fnc))
                    cw_merged_types[in_col] = dt
            return JoinAggSpec(op, in_col, out_name, _agg_spec_arg2(call, op))

        # HAVING aggregates compute in-op (spec outputs in aggregate mode,
        # per-row attachments gating whole windows in content mode)
        having_specs: list[JoinAggSpec] = []
        if having is not None:
            for call in self._find_aggs(having):
                key = canon(call)
                if key in ctx.agg_map:
                    continue
                out_name = f"__hagg{len(having_specs)}"
                having_specs.append(_agg_spec(call, out_name))
                ctx.agg_map[key] = out_name
            if not agg_nodes and not cw_sub_info:
                # content mode: a raw column in HAVING reads the window
                # collection's FIRST joined row (having_operator.go
                # GroupRange -> Content[0]) — attach first-of-window
                # columns, same lift as the sliding join
                for n_i, ref in enumerate(
                    {canon(r): r for r in self._find_raw_cols(having)}.values()
                ):
                    key = canon(ref)
                    if key in ctx.agg_map or key in ctx.dim_map or (
                        ref.source is None and ref.name.lower() in ctx.aliases
                    ):
                        continue
                    k = (
                        f"{ref.source.lower()}.{ref.name.lower()}"
                        if ref.source else ref.name.lower()
                    )
                    flat = fm.get(k)
                    if flat is None:
                        raise ValueError(f"unknown column {ref.name} in HAVING")
                    out_name = f"__hraw{n_i}"
                    having_specs.append(JoinAggSpec("first", flat, out_name))
                    ctx.dim_map[key] = out_name

        for d, kn in cw_mixed_dims:
            fnc, dt = _cw_closure(d, "GROUP BY dim")
            cw_merged_cols.append((kn, fnc))
            cw_merged_types[kn] = dt
        # a residual outside the in-op subset can still filter natively
        # after the op when nothing in-op reads the post-ON pairs (content
        # mode, no HAVING/WHERE/last_hit_count lanes), its step is INNER
        # and no later step is RIGHT/FULL: the op then emits the step's
        # candidate pairs, and a filter on earlier sides commutes with
        # later inner/left/cross steps
        native_ok = not (agg_nodes or cw_sub_info or having_specs or hit_conjs)
        native_on: list[Node] = []
        for s_i, spec2 in enumerate(join_specs):
            rnode = spec2.pop("__residual", None)
            avail = spec2.pop("__avail", None)
            if rnode is None:
                continue
            try:
                spec2["on_fn"], _ = _cw_closure(
                    rnode, "non-equi ON", avail, null_extend_sensitive=False
                )
            except NotImplementedError:
                refs = self._find_raw_cols(self._inline_aliases(rnode, ctx))
                if not (
                    native_ok
                    and spec2["how"] == "inner"
                    and all(
                        fm.get(
                            f"{r.source.lower()}.{r.name.lower()}"
                            if r.source else r.name.lower()
                        ) in avail
                        for r in refs
                    )
                    and all(
                        s["how"] in ("inner", "left", "cross")
                        for s in join_specs[s_i + 1:]
                    )
                ):
                    raise
                if not spec2["lkeys"]:
                    spec2["how"] = "cross"
                native_on.append(rnode)
        cw_where_filter = None
        if where_pre is not None and (
            agg_nodes or cw_sub_info
            or (having_specs and not agg_nodes and not cw_sub_info)
        ):
            if static_joins:
                raise NotImplementedError(
                    f"WHERE over an AGGREGATED {_lbl} with "
                    "scan/lookup sides keeps the filter-between-join-and-"
                    "aggregation gap (the side inputs join after the op)"
                )
            cw_where_filter, _ = _cw_closure(where_pre, "WHERE")
            where_pre = None
        # last_hit_count() WHERE conjuncts gate the emission sequence
        # in-op (sliding chain only; counter ticks for every evaluated
        # row, funcs_global_state.go IncrCounter, persisted in state)
        cw_hit_filter = None
        if hit_conjs:
            if agg_nodes or cw_sub_info:
                # analyzer_test.go:131-132
                raise NotImplementedError(
                    "function last_hit_count is not allowed in an "
                    "aggregate query"
                )
            if static_joins:
                # the reference's counter ticks per WHERE evaluation
                # over FULLY-joined rows (FilterPlan above the whole
                # JoinPlan); here trailing scan/lookup sides join after
                # the op, so the in-op count would drift
                raise NotImplementedError(
                    f"last_hit_count over a {_lbl} with scan/lookup "
                    "sides is unsupported (the side inputs join after "
                    "the emission-sequence gate)"
                )
            from ekuiper_spark.streaming.pdeval import compile_pd

            hnode = self._inline_aliases(conjoin(hit_conjs), ctx)
            hint_cols = set(cw_int_cols) | {"__lhc"}

            def _hresolve(ref: ColumnRef) -> Optional[str]:
                k = (
                    f"{ref.source.lower()}.{ref.name.lower()}"
                    if ref.source else ref.name.lower()
                )
                return fm.get(k)

            def _hspecial(call2: FuncCall) -> Optional[str]:
                if call2.name.lower() in ("last_hit_count", "last_agg_hit_count"):
                    return "__lhc"
                return None

            try:
                cw_hit_filter = compile_pd(
                    hnode, _hresolve, int_cols=hint_cols, special_call=_hspecial
                )
            except NotImplementedError as e:
                raise NotImplementedError(
                    f"last_hit_count conjunct over a {_lbl} uses an "
                    f"expression outside the in-op subset ({e})"
                ) from None
        if agg_nodes or cw_sub_info:
            if static_joins:
                raise NotImplementedError(
                    f"aggregates over a {_lbl} with scan/lookup "
                    "sides are unsupported (aggregate before the lookup "
                    "join is ill-defined)"
                )
            # GROUP BY dims: register first so dim refs read the group key
            for d, kn in cw_sub_info:
                ctx.dim_map[canon(d)] = kn
            for i, (key, call) in enumerate(agg_nodes.items()):
                if key in ctx.agg_map:
                    continue
                specs.append(_agg_spec(call, f"__agg{i}"))
                ctx.agg_map[key] = f"__agg{i}"
            # raw refs alongside aggregates: first joined row (project-
            # over-grouped; with dims, first of the GROUP)
            raw_refs: dict[str, ColumnRef] = {}
            for f in stmt.fields:
                for ref in self._find_raw_cols(f.expr):
                    raw_refs.setdefault(canon(ref), ref)
            for n_i, (key, ref) in enumerate(raw_refs.items()):
                if key in ctx.agg_map or key in ctx.dim_map or (
                    ref.source is None and ref.name.lower() in ctx.aliases
                ):
                    continue
                k = (
                    f"{ref.source.lower()}.{ref.name.lower()}"
                    if ref.source else ref.name.lower()
                )
                flat = fm.get(k)
                if flat is None:
                    continue
                out_name = f"__fr{n_i}"
                specs.append(JoinAggSpec("first", flat, out_name))
                ctx.dim_map[key] = out_name
            ctx.post_agg = True

        _cw_agg_mode = bool(agg_nodes or cw_sub_info)
        _op_kwargs = dict(
            sides=side_cols,
            joins=join_specs,
            aggs=specs + having_specs if _cw_agg_mode else None,
            attach_aggs=having_specs if (having_specs and not _cw_agg_mode) else None,
            pair_keep=pair_keep_flags or None,
            subgroups=[kn for _d, kn in cw_sub_info],
            merged_cols=cw_merged_cols or None,
            merged_types=cw_merged_types or None,
            where_filter=cw_where_filter,
        )
        if sliding:
            out = sliding_join_chain_stream(
                union, length=length_us, delay=delay_us,
                throttle=sl_throttle,
                trigger_col="__twhen" if sl_flag is not None else None,
                hit_count_filter=cw_hit_filter,
                **_op_kwargs,
            )
            out = out.withColumn(
                "window",
                F.struct(
                    F.timestamp_micros(F.col("__ws")).alias("start"),
                    F.timestamp_micros(F.col("__we")).alias("end"),
                ),
            ).drop("__ws", "__we")
            ctx.window_col = "window"
            ctx.window_bounds_ms = sl_long
            ctx.event_col = "window.end"
            out = out.alias("__cwj")
        else:
            op_fn = count_join_stream if self.streaming else count_join_batch
            out = op_fn(union, n=n, **_op_kwargs).alias("__cwj")
        if not _cw_agg_mode:
            # qualify the flat names so trailing static joins with
            # same-named columns stay unambiguous
            out_cols = set(out.columns)
            ctx.flat_col_map = {
                k: (f"__cwj.{v}" if v in out_cols else v)
                for k, v in ctx.flat_col_map.items()
            }
        for rnode in native_on:
            out = out.filter(self._expr(rnode, ctx))

        # trailing scan/lookup sides: ungated side-input joins on the
        # joined window content (lookup_node.go semantics)
        for j in static_joins:
            r_alias = j.alias or j.source
            rdf = self.catalog.load(self.spark, j.source, streaming=False).alias(r_alias)
            ctx.source_aliases.add(r_alias.lower())
            ctx.source_order.append(r_alias)
            rdef = self.catalog.get(j.source)
            if rdef is not None and rdef.kind == "lookup":
                rdf = F.broadcast(rdf)
            if j.kind == "cross":
                out = out.crossJoin(rdf)
            else:
                out = out.join(rdf, on=self._expr(j.on, ctx), how=j.kind)

        if where_pre is not None:
            out = out.filter(self._expr(where_pre, ctx))
        if having is not None:
            was_post = ctx.post_agg
            ctx.post_agg = True
            out = out.filter(self._expr(having, ctx))
            ctx.post_agg = was_post
            stmt.having = None  # consumed; the statement finalizes here
        out = self._project(out, stmt, ctx)
        if stmt.order:
            keys = []
            for s in stmt.order:
                col = self._expr(s.expr, ctx)
                keys.append(col.asc_nulls_last() if s.asc else col.desc_nulls_last())
            out = out.orderBy(*keys)
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        ctx.finalized = True
        return out

    def _join_gap_throttle_spec(self, node, is_long: bool):
        """Parse an OR of '<col> - last_hit_time() > K' disjuncts with one
        shared K/op; returns (K_us, ge) or None.  Only exact for
        epoch-millis event columns (like _throttle_spec)."""
        if not is_long:
            return None
        ks: set = set()
        for d in conjuncts(node, "OR"):
            if not (isinstance(d, Binary) and d.op in (">", ">=")):
                return None
            k = self._raw(d.right)
            l = d.left
            if (
                k is None
                or not isinstance(l, Binary)
                or l.op != "-"
                or not isinstance(l.right, FuncCall)
                or l.right.name != "last_hit_time"
                or not isinstance(l.left, ColumnRef)
            ):
                return None
            ks.add((int(k), d.op))
        if len(ks) != 1:
            return None
        k, op = next(iter(ks))
        return k * 1000, op == ">="

    def _stream_stream_join(
        self, df: DataFrame, stmt: SelectStatement, j, ctx: TranslateCtx, left_alias: str
    ) -> DataFrame:
        """Two-stream windowed join (reference join_operator.go:27-398;
        window-gated per planner.go:734-735): both streams are bucketed
        into the statement's TUMBLINGWINDOW and joined on bucket equality
        plus the ON condition — Spark's canonical watermarked
        stream-stream equi-join, so state is evicted once the watermark
        passes a bucket.  The bucket struct is kept as ``__ssw`` and
        reused as the GROUP BY window key (it IS the statement's window).

        Unwindowed stream-stream joins raise, mirroring the reference's
        planner error.  Scale: the shuffle keys are (bucket, ON-equi
        columns); per-bucket state is bounded by the watermark delay.
        """
        group = stmt.group
        window = group.window if group else None
        if window is None or window.kind not in ("tumbling", "hopping"):
            raise NotImplementedError(
                "a time window is required to join multiple streams "
                "(reference planner.go:734-735); streaming stream-stream "
                "joins support TUMBLING/HOPPING/SLIDINGWINDOW — register "
                "the right side as a scan/lookup TABLE for a stream-static "
                "join"
            )
        # SPARSE hopping (interval > length): windows are disjoint with
        # gaps.  Rows outside any window filter out, then each member's
        # window maps 1:1 to its TUMBLING bucket on the HOP grid — a
        # NATIVE window struct Spark's watermark eviction understands —
        # and the displayed bounds shrink to [end - length, end) after
        # the join (the bucket is only the join/state key).
        sparse_hop = window.kind == "hopping" and window.args[1] > window.args[0]
        if j.kind not in ("inner", "left", "right", "full", "cross"):
            raise NotImplementedError(
                f"streaming stream-stream {j.kind} join is unsupported"
            )
        r_alias = j.alias or j.source
        rdf = self.catalog.load(
            self.spark, j.source, streaming=self.streaming
        ).alias(r_alias)
        ctx.source_aliases.add(r_alias.lower())
        ctx.source_order.append(r_alias)
        sdef = self.catalog.get(stmt.source)
        lec = self.event_col or (sdef.timestamp_col if sdef else None) or (
            "ts" if "ts" in df.columns else None
        )
        rdef = self.catalog.get(j.source)
        rec = (rdef.timestamp_col if rdef else None) or (
            "ts" if "ts" in rdf.columns else None
        )
        if lec is None or rec is None:
            raise ValueError("stream-stream join requires event-time columns")
        dur = self._dur(window, 0)
        hop = self._dur(window, 1) if window.kind == "hopping" else None
        ldf, rdf_w = df, rdf

        # LONG event columns carry epoch MILLIS (the reference's native
        # unit) — window()/watermarks need a TIMESTAMP, so a hidden
        # per-side __evt_* column carries it
        def _ts_evcol(sdf: DataFrame, alias: str, ec: str) -> tuple[DataFrame, str]:
            if isinstance(sdf.schema[ec].dataType, T.LongType):
                nm = f"__evt_{alias}"
                sdf = sdf.withColumn(
                    nm, F.timestamp_millis(F.col(f"{alias}.{ec}"))
                ).alias(alias)
                return sdf, nm
            return sdf, ec

        ldf, lec = _ts_evcol(ldf, left_alias, lec)
        rdf_w, rec = _ts_evcol(rdf_w, r_alias, rec)
        if self.streaming:
            wm = self.watermark or "0 seconds"
            ldf = ldf.withWatermark(lec, wm)
            rdf_w = rdf_w.withWatermark(rec, wm)
        # hopping: F.window(ts, size, slide) expands each event into one
        # row per covering window instance, so bucket equality gates pairs
        # per-instance exactly like the reference's per-window join scan
        if sparse_hop:
            length_us = int(window.args[0] * UNIT_SECONDS[window.unit] * 1_000_000)
            hop_us = int(window.args[1] * UNIT_SECONDS[window.unit] * 1_000_000)
            hop_dur = self._dur(window, 1)

            def _sparse_member(sdf: DataFrame, alias: str, tc: str) -> DataFrame:
                e = epoch_us(F.col(f"{alias}.{tc}"))
                wend = (F.floor(e / hop_us) + 1) * hop_us
                return sdf.filter(e >= wend - length_us)

            ldf = _sparse_member(ldf, left_alias, lec).withColumn(
                "__ssw", F.window(F.col(f"{left_alias}.{lec}"), hop_dur)
            )
            rdf = _sparse_member(rdf_w, r_alias, rec).withColumn(
                "__ssw_r", F.window(F.col(f"{r_alias}.{rec}"), hop_dur)
            )
        else:
            ldf = ldf.withColumn("__ssw", F.window(F.col(f"{left_alias}.{lec}"), dur, hop) if hop else F.window(F.col(f"{left_alias}.{lec}"), dur))
            rdf = rdf_w.withColumn("__ssw_r", F.window(F.col(f"{r_alias}.{rec}"), dur, hop) if hop else F.window(F.col(f"{r_alias}.{rec}"), dur))
        if self.streaming:
            # the window struct inherits the event-time marker from the
            # watermarked column, leaving TWO event-time columns per
            # stream; FULL outer (and analysis generally) requires exactly
            # one, and the watermark must sit IN the join keys for outer
            # eviction — strip the marker off the raw column, keep it on
            # the bucket (alias(metadata={}) resets column metadata)
            def _strip(sdf: DataFrame, tc: str, alias: str) -> DataFrame:
                cols = [
                    F.col(c).alias(c, metadata={}) if c == tc else F.col(c)
                    for c in sdf.columns
                ]
                return sdf.select(*cols).alias(alias)

            ldf = _strip(ldf, lec, left_alias)
            rdf = _strip(rdf, rec, r_alias)
        cond = F.col("__ssw") == F.col("__ssw_r")
        if j.kind == "cross":
            # CROSS within the window = every same-window pair
            # (join_operator.go CROSS_JOIN over the window batch); the
            # bucket equality IS the join condition
            out = ldf.join(rdf, on=cond, how="inner").drop("__ssw_r")
        else:
            out = ldf.join(rdf, on=cond & self._expr(j.on, ctx), how=j.kind).drop("__ssw_r")
        if sparse_hop:
            # the native bucket keys the join and its state eviction; the
            # TRUE sparse bounds ([end - length, end)) are rebuilt later —
            # post-aggregation in streaming, so grouping stays on the
            # watermark-derived struct (append-mode legality)
            ctx.window_shrink_us = length_us
        ctx.join_window_col = "__ssw"
        return out

    # ------------------------------------------------------------------ #
    # grouped path
    # ------------------------------------------------------------------ #
    def _grouped(self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx) -> DataFrame:
        self._cur_df = df
        group = stmt.group
        dims = list(group.dims) if group else []
        window = group.window if group else None

        for d in dims:
            # at any depth: aggregates nested in CASE/IN/BETWEEN/OVER
            # dimensions count too (sqlValidator.go:28 walks all exprs)
            if any(_is_agg_call(m) for m in walk(d)):
                raise ValueError(
                    "Not allowed to call aggregate functions in GROUP BY "
                    f"clause: {self._raw(d) or canon(d)}."
                )

        group_cols: list[str] = []

        if window is not None and window.filter is not None:
            df = df.filter(self._expr(window.filter, ctx))

        # dims are materialized before the window key: a capped session
        # window partitions its gaps-and-islands computation by the dims
        dim_names: list[str] = []
        variant_dims: list[tuple[str, str]] = []  # (carry-agg name, source col)
        for i, d in enumerate(dims):
            if isinstance(d, ColumnRef) and d.source is None:
                df, name = self._dim_col(df, d, i, ctx)
                dim_names.append(name)
            elif isinstance(d, ColumnRef) and d.source is not None and d.source.lower() in ctx.source_aliases:
                # qualified simple column: group under its bare name so the
                # output column is user-visible (r.r_name -> r_name) — unless
                # a joined frame carries that bare name from >1 source, where
                # withColumn can neither replace nor re-reference it
                # (AMBIGUOUS_REFERENCE); then group under a hidden name and
                # let the select projection re-alias via dim_map
                name = d.name
                if df.columns.count(name) > 1:
                    name = f"__grp{i}"
                df = df.withColumn(name, self._expr(d, ctx))
                ctx.dim_map[canon(d)] = name
                dim_names.append(name)
            else:
                name = f"__grp{i}"
                df = df.withColumn(name, self._expr(d, ctx))
                ctx.dim_map[canon(d)] = name
                dim_names.append(name)

        for k, nm in enumerate(list(dim_names)):
            if nm in df.columns and isinstance(df.schema[nm].dataType, T.VariantType):
                # a dynamic (VARIANT) dim is neither groupable nor
                # orderable in Spark: group on its JSON encoding (which
                # keeps 49 distinct from "49" and missing as null) and
                # carry the dynamic value back via a first() aggregate
                sname = f"__gvk{k}"
                df = df.withColumn(sname, F.to_json(F.col(nm)))
                vname = f"__gvv{k}"
                variant_dims.append((vname, nm))
                dim_names[dim_names.index(nm)] = sname
                for ck, cv in list(ctx.dim_map.items()):
                    if cv == nm:
                        ctx.dim_map[ck] = vname

        if window is not None:
            ctx.window_parts = dim_names
            ctx.count_fast = (
                window.kind == "count"
                and not self.streaming
                and ctx.deferred_where is None
                and len(window.args) == 1
            )
            # aggregated capped session: the per-session bounds are plain
            # min/max of the session's event times, so they can ride the
            # aggregation itself instead of two extra Window passes plus a
            # re-sort (only when no AGGREGATE ARGUMENT reads the window
            # struct pre-agg, e.g. min(window_start()))
            ctx.session_fast = (
                window.kind == "session"
                and len(window.args) >= 2
                and not self.streaming
                and not self._agg_args_use_window_meta(stmt)
            )
            df, wnames = self._window_key(df, window, ctx)
            group_cols.extend(wnames)

        group_cols.extend(dim_names)

        ctx.row_cols = [
            c
            for c in df.columns
            if not c.startswith("__") and c not in ("window", "_metadata")
        ]

        # collect aggregate calls from select + having + order (incl.
        # aggregates inside row_number OVER sort/partition fields, which
        # evaluate on the GROUP row)
        agg_nodes: dict[str, FuncCall] = {}
        for f in stmt.fields:
            for a in self._find_aggs(f.expr):
                agg_nodes.setdefault(canon(a), a)
            for c in self._find_fn_calls(f.expr, "row_number"):
                for sub in [s.expr for s in c.order_by] + list(c.partition_by):
                    for a in self._find_aggs(sub):
                        agg_nodes.setdefault(canon(a), a)
        if stmt.having is not None:
            for a in self._find_aggs(stmt.having):
                agg_nodes.setdefault(canon(a), a)
        for s in stmt.order:
            for a in self._find_aggs(s.expr):
                agg_nodes.setdefault(canon(a), a)

        agg_exprs: list[Column] = []
        for i, (key, call) in enumerate(agg_nodes.items()):
            name = f"__agg{i}"
            ctx.agg_map[key] = name
            agg_exprs.append(self._agg_expr(call, ctx).alias(name))

        if agg_nodes or dim_names:
            # raw (non-grouped) column refs in an aggregated query take
            # the FIRST row's value per group — the reference projects the
            # grouped collection against its first row (TestWindowRule8:
            # color/ts emit the first window row alongside count(*)).
            # GROUP BY dims alone (no aggregate functions) put the
            # projection in the same aggregate context (WithAggFields,
            # checkAgg.go:56-75), so bare non-dim columns resolve the
            # same way.
            # Compiled as min_by on the event order so "first" stays
            # deterministic under parallel aggregation; a plain first()
            # only when no order column exists.
            raw_refs: dict[str, ColumnRef] = {}
            for f in stmt.fields:
                for ref in self._find_raw_cols(f.expr):
                    raw_refs.setdefault(canon(ref), ref)
                # raw refs inside row_number OVER keys evaluate on the
                # GROUP row too (first-of-group)
                for c2 in self._find_fn_calls(f.expr, "row_number"):
                    for sub in [s2.expr for s2 in c2.order_by] + list(c2.partition_by):
                        for ref in self._find_raw_cols(sub):
                            raw_refs.setdefault(canon(ref), ref)
            if stmt.having is not None:
                for ref in self._find_raw_cols(stmt.having):
                    raw_refs.setdefault(canon(ref), ref)
            for s in stmt.order:
                for ref in self._find_raw_cols(s.expr):
                    raw_refs.setdefault(canon(ref), ref)
            okey_col = self._scan_order_key(df, ctx)
            nfr = 0
            for key, ref in raw_refs.items():
                if key in ctx.dim_map or key in ctx.agg_map:
                    continue
                if ref.source is None and ref.name in ctx.aliases:
                    continue  # alias of a select expression, resolved there
                if ref.source is None and ref.name not in df.columns:
                    continue  # not a source column (fails loudly later)
                col = self._expr(ref, ctx)
                name = f"__fr{nfr}"
                nfr += 1
                first = F.min_by(col, okey_col) if okey_col is not None else F.first(col)
                agg_exprs.append(first.alias(name))
                ctx.dim_map[key] = name

        # hoisted analytic outputs (lag/latest/changed/acc hidden columns,
        # computed pre-window per AnalyticFuncsPlan) referenced in an
        # aggregate context resolve to the group's FIRST row — aggregate
        # them under their own names so post-agg refs keep resolving
        if agg_nodes or dim_names:
            _an_outs = list(dict.fromkeys(
                list(ctx.analytic_map.values())
                + [oc for outs in ctx.cc_stream.values() for oc, _v in outs]
            ))
            for an_out in _an_outs:
                if an_out in df.columns:
                    first_an = (
                        F.min_by(F.col(an_out), okey_col)
                        if okey_col is not None
                        else F.first(F.col(an_out))
                    )
                    agg_exprs.append(first_an.alias(an_out))

        # row_number() with GROUP BY dims ranks the GROUPS within each
        # window collection (WindowFuncPlan sits ABOVE AggregatePlan in
        # the reference stack, planner.go:807-833; rowNumberFuncHandle
        # RangeSet over a GroupedTuplesSet assigns 1..k per group) —
        # default order is group FORMATION order (the group's first
        # content row); OVER sort fields evaluate on the group row
        if dim_names and window is not None:
            rn_calls: dict[str, FuncCall] = {}
            for f2 in stmt.fields:
                for c2 in self._find_fn_calls(f2.expr, "row_number"):
                    rn_calls.setdefault(canon(c2), c2)
            if rn_calls and window.kind == "session":
                # dims KEY the sessionizer (engine-wide convention — the
                # gaps-and-islands chain partitions by the dims), so every
                # emitted session window holds exactly ONE group and the
                # group rank is constant 1, same as the streaming stateful
                # path pins it.  This must NOT rank over the session chain
                # keys (__isl/__run/__sess/__sb): those are per-dim
                # counters that collide across dims — two dims' first
                # sessions share (isl=1, run=1, sess=0) and would rank
                # 1..k (r12 regression caught by
                # test_stream_session_dims_row_number_const1).  Skipping
                # the __grpord aggregate + rank Window is also one fewer
                # pass.
                for ckey in rn_calls:
                    ctx.rank_const1.add(ckey)
            elif rn_calls:
                okey2 = okey_col if (agg_nodes or dim_names) else None
                if okey2 is not None:
                    # UNIQUE formation key: the event order key plus the
                    # rule's remaining order_cols as tie-breaks, so groups
                    # whose first rows share an event time still rank in
                    # GroupedTuplesSet order — struct comparison must
                    # never fall through to dim/agg data fields (the
                    # streaming chained-agg sort_array packs them after
                    # __o0)
                    tie = [
                        F.col(oc).alias(f"o{i + 1}")
                        for i, oc in enumerate(ctx.order_cols or [])
                        if oc in df.columns and df.columns.count(oc) == 1
                    ]
                    if tie:
                        okey2 = F.struct(okey2.alias("o0"), *tie)
                agg_exprs.append(
                    (
                        F.min(okey2) if okey2 is not None else F.min(F.lit(0))
                    ).alias("__grpord")
                )
                ctx.grpord_col = "__grpord"
                ctx.grprank_partition = [c for c in group_cols if c not in dim_names]

        for vname, nm in variant_dims:
            # all rows of a group share the dim value (grouped on its
            # JSON encoding), so first() is deterministic
            agg_exprs.append(F.first(F.col(nm)).alias(vname))

        # SendError HAVING over dynamic values needs the group's scan
        # position within its window (the reference's HavingOp iterates
        # groups in first-row order and the FIRST error aborts the whole
        # window emission, filter_operator/having semantics in
        # TestWindowErrorRule4)
        dyn_having = (
            self.on_error in ("emit", "omit")
            and stmt.having is not None
            and window is not None
            and any(isinstance(fl.dataType, T.VariantType) for fl in df.schema.fields)
        )
        if dyn_having:
            oc = ctx.event_col if ctx.event_col and ctx.event_col in df.columns else None
            if oc is not None:
                ordc = (
                    F.col(oc).try_cast("long")
                    if isinstance(df.schema[oc].dataType, T.VariantType)
                    else F.col(oc)
                )
            else:
                ordc = F.monotonically_increasing_id()
            agg_exprs.append(F.min(ordc).alias("__gord"))

        if not agg_exprs:
            agg_exprs.append(F.count(F.lit(1)).alias("__dummy"))

        if ctx.count_fast:
            # per-(window, dims) partials that reconstruct the WHOLE
            # window's fullness and bounds on the aggregated frame
            agg_exprs.append(F.count(F.lit(1)).alias("__subn"))
            if ctx.window_col:
                ec = ctx.event_col
                agg_exprs.append(F.min(F.col(ec)).alias("__submin"))
                agg_exprs.append(F.max(F.col(ec)).alias("__submax"))

        if isinstance(ctx.session_fast, tuple):
            # capped-session bounds from the aggregation itself (see
            # _session_capped): first/last event time per session
            agg_exprs.append(F.min(F.col("__us")).alias("__semin"))
            agg_exprs.append(F.max(F.col("__us")).alias("__semax"))

        # (count-window fullness is otherwise enforced in _window_key, on
        # the whole window — a GROUP BY dim sub-groups the window contents
        # and must not affect the full-window check)
        gdf = df.groupBy(*[F.col(c) for c in group_cols]).agg(*agg_exprs) if group_cols else df.groupBy().agg(*agg_exprs)

        if isinstance(ctx.session_fast, tuple):
            # rebuild the session window struct from the per-group bounds:
            # start = session-open rule (first event, or the previous
            # force-close tick for follow-up sessions); end = min(last
            # event + timeout, force-close tick)
            timeout_us, cap_us = ctx.session_fast
            start_us = F.when(
                F.col("__sess") > 0, F.col("__sb") * cap_us
            ).otherwise(F.col("__semin"))
            end_us = F.least(
                F.col("__semax") + timeout_us, (F.col("__sb") + 2) * cap_us
            )
            gdf = gdf.withColumn(
                "window",
                F.struct(
                    F.timestamp_micros(start_us).alias("start"),
                    F.timestamp_micros(end_us).alias("end"),
                ),
            ).drop("__semin", "__semax")
            ctx.session_fast = None

        if ctx.count_fast:
            # full-window check + count-window range on the tiny post-agg
            # frame: sum/min/max of the sub-group partials over the window
            # id (window_op.go:520-568 only FULL windows emit;
            # xsql/collection.go WindowRange = [first, last] event time)
            n_full = window.args[0]
            cw = W.partitionBy(F.col("__wid"))
            gdf = gdf.withColumn("__wn", F.sum(F.col("__subn")).over(cw))
            gdf = gdf.filter(F.col("__wn") == n_full).drop("__wn", "__subn")
            if ctx.window_col:
                gdf = gdf.withColumn(
                    "window",
                    F.struct(
                        F.min(F.col("__submin")).over(cw).alias("start"),
                        F.max(F.col("__submax")).over(cw).alias("end"),
                    ),
                ).drop("__submin", "__submax")
            ctx.count_fast = False

        if ctx.window_shrink_us and ctx.window_col == "window" and "window" in gdf.columns:
            # sparse-hopping join: true bounds post-aggregation (grouping
            # ran on the watermark-derived native bucket)
            gdf = _shrink_window(gdf, ctx.window_shrink_us)
            ctx.window_shrink_us = None
        if ctx.grpord_col and self.streaming and gdf.isStreaming:
            # streaming group-rank: Spark rejects rank window functions on
            # streaming frames, so the rank comes from a SECOND chained
            # windowed aggregation (Spark 3.5+ multiple stateful ops,
            # append mode): collect the window's grouped rows sorted by
            # formation order, posexplode with pos+1 as the rank.
            if not self.watermark:
                raise NotImplementedError(
                    "row_number with GROUP BY dims over a streaming time "
                    "window needs a late-tolerance watermark (chained "
                    "stateful aggregations run append-mode); set the "
                    "rule's lateTolerance option"
                )
            if "window" not in gdf.columns:
                raise NotImplementedError(
                    "streaming group-rank needs the native window column"
                )
            rn_list = [
                c2
                for f2 in stmt.fields
                for c2 in self._find_fn_calls(f2.expr, "row_number")
            ]
            over_specs = {
                repr((
                    [canon(p) for p in c2.partition_by],
                    [(canon(s.expr), s.asc) for s in c2.order_by],
                ))
                for c2 in rn_list
            }
            if len(over_specs) > 1:
                raise NotImplementedError(
                    "multiple row_number calls with DIFFERENT OVER specs "
                    "over a streaming grouped time window are unsupported "
                    "(one precomputed rank per window; split the rule)"
                )
            rn_call = rn_list[0] if rn_list else None
            rn_over = rn_call is not None and bool(
                rn_call.partition_by or rn_call.order_by
            )
            other_cols = [c for c in gdf.columns if c != "window"]
            if not rn_over:
                # formation-order rank: sort_array on the __o0-first
                # struct (unchanged plan)
                packed = F.struct(
                    F.col(ctx.grpord_col).alias("__o0"),
                    *[F.col(c).alias(c) for c in other_cols if c != ctx.grpord_col],
                )
                g2 = gdf.groupBy("window").agg(
                    F.sort_array(F.collect_list(packed)).alias("__gs")
                )
                gdf = g2.select(
                    "window", F.posexplode("__gs").alias("__pos", "__g")
                ).select(
                    "window",
                    *[
                        F.col(f"__g.{c}").alias(c)
                        for c in other_cols
                        if c != ctx.grpord_col
                    ],
                    (F.col("__pos") + F.lit(1)).alias("__grprank"),
                )
            else:
                # r11: row_number OVER keys — rank the GROUPS by the OVER
                # sort fields evaluated on the group row (nil keys last in
                # both directions, formation-order tie-break; batch parity
                # windowfunc_operator.go:27-160).  array_sort with an
                # explicit comparator handles DESC/nulls-last, which the
                # lexicographic sort_array cannot; PARTITION BY keys reset
                # the rank within the window via a null-safe prefix count.
                was_post2, cur2 = ctx.post_agg, self._cur_df
                ctx.post_agg = True
                self._cur_df = gdf
                pk_cols = [
                    self._expr(p, ctx).alias(f"p{i2}")
                    for i2, p in enumerate(rn_call.partition_by)
                ]
                ok_cols = [
                    (self._expr(s.expr, ctx), s.asc)
                    for s in rn_call.order_by
                ]
                ctx.post_agg, self._cur_df = was_post2, cur2
                packed = F.struct(
                    F.struct(*pk_cols).alias("__pk")
                    if pk_cols
                    else F.lit(0).alias("__pk"),
                    *[c.alias(f"__ok{i2}") for i2, (c, _a) in enumerate(ok_cols)],
                    F.col(ctx.grpord_col).alias("__o0"),
                    *[F.col(c).alias(c) for c in other_cols if c != ctx.grpord_col],
                )

                def _cmp(lft, rgt):
                    keys = [
                        (lft[f"__ok{i2}"], rgt[f"__ok{i2}"], asc)
                        for i2, (_c, asc) in enumerate(ok_cols)
                    ] + [(lft["__o0"], rgt["__o0"], True)]
                    out = F.lit(0)
                    for kl, kr, asc in reversed(keys):
                        lo, hi = (F.lit(-1), F.lit(1)) if asc else (F.lit(1), F.lit(-1))
                        out = (
                            F.when(kl.isNull() & kr.isNull(), out)
                            .when(kl.isNull(), F.lit(1))   # nils LAST both ways
                            .when(kr.isNull(), F.lit(-1))
                            .when(kl < kr, lo)
                            .when(kl > kr, hi)
                            .otherwise(out)
                        )
                    return out

                g2 = gdf.groupBy("window").agg(
                    F.collect_list(packed).alias("__gs0")
                ).withColumn(
                    "__gs", F.array_sort("__gs0", _cmp)
                ).drop("__gs0")
                if pk_cols:
                    # rank within (window, partition keys): count of
                    # same-partition groups in the sorted prefix
                    g2 = g2.withColumn(
                        "__rk",
                        F.expr(
                            "transform(__gs, (x, i) -> size(filter("
                            "slice(__gs, 1, i + 1), y -> y.__pk <=> x.__pk)))"
                        ),
                    )
                else:
                    g2 = g2.withColumn(
                        "__rk",
                        F.expr("transform(__gs, (x, i) -> i + 1)"),
                    )
                hide = {ctx.grpord_col, "__pk", "__o0"} | {
                    f"__ok{i2}" for i2 in range(len(ok_cols))
                }
                gdf = g2.select(
                    "window",
                    F.posexplode(F.arrays_zip("__gs", "__rk")).alias("__pos", "__z"),
                ).select(
                    "window",
                    *[
                        F.col(f"__z.__gs.{c}").alias(c)
                        for c in other_cols
                        if c not in hide
                    ],
                    F.col("__z.__rk").cast("int").alias("__grprank"),
                )
            ctx.grprank_col = "__grprank"
        ctx.post_agg = True
        # emission ordering for post-agg positional funcs
        # (last_agg_hit_count/time, funcs_global_state.go): windows emit in
        # window-start order, plain groups in group-key order
        if ctx.window_col:
            ctx.order_cols = [f"{ctx.window_col}.start"]
            ctx.event_col = f"{ctx.window_col}.end"
        else:
            ctx.order_cols = list(group_cols)
        if stmt.having is not None:
            conjs = conjuncts(stmt.having)
            hitty = [c for c in conjs if self._has_hit_fn(c, ctx.aliases)]
            pre = conjoin(c for c in conjs if c not in hitty)
            if pre is not None:
                self._cur_df = gdf  # post-agg type probes (variant routing)
                ctx.dyn_errs = []
                hc = self._expr(pre, ctx)
                de, ctx.dyn_errs = ctx.dyn_errs, []
                if de and "__gord" in gdf.columns:
                    # dynamic HAVING under SendError: groups evaluate in
                    # first-row order and the FIRST kind mismatch aborts
                    # the whole window's emission with ONE error row;
                    # null/missing compares drop their group silently
                    # (TestWindowErrorRule4)
                    herr = F.coalesce(*de) if len(de) > 1 else de[0]
                    wn2 = [c for c in group_cols if c not in dim_names]
                    wsp2 = (
                        W.partitionBy(*[F.col(c) for c in wn2])
                        if wn2
                        else W.partitionBy(F.lit(1))
                    )
                    fe = F.min(
                        F.when(
                            herr.isNotNull(),
                            F.struct(F.col("__gord").alias("o"), herr.alias("e")),
                        )
                    ).over(wsp2)
                    gdf = (
                        gdf.withColumn("__fe", fe)
                        .withColumn("__hok", F.coalesce(hc, F.lit(False)))
                    )
                    keep = F.when(
                        F.col("__fe").isNotNull(),
                        F.col("__fe.o") == F.col("__gord"),
                    ).otherwise(F.col("__hok"))
                    gdf = (
                        gdf.filter(keep)
                        .withColumn(
                            "__jerr",
                            F.when(
                                F.col("__fe").isNotNull(),
                                F.concat(
                                    F.lit("run Having error: "), F.col("__fe.e")
                                ),
                            ),
                        )
                        .drop("__fe", "__hok")
                    )
                else:
                    gdf = gdf.filter(hc)
            if hitty:
                # throttle-form conjuncts `X - last_agg_hit_time() > K`
                # advance the hit state only on EMISSIONS (the reference's
                # alert-dedup idiom, TestEventWindowRule0: a suppressed
                # window widens the gap until the next one passes) — a
                # sequential scan, not a per-row lag
                rest = []
                for c in hitty:
                    spec = self._agg_hit_throttle_spec(c, ctx)
                    if spec is None:
                        rest.append(c)
                        continue
                    x_node, k, ge = spec
                    gdf = gdf.withColumn("__thx", self._expr(x_node, ctx))
                    if isinstance(
                        gdf.schema["__thx"].dataType,
                        (T.LongType, T.IntegerType, T.DoubleType, T.FloatType),
                    ):
                        gdf = self._sequential_throttle(gdf, "__thx", k, ge)
                        gdf = gdf.drop("__thx")
                    else:
                        gdf = gdf.drop("__thx")
                        rest.append(c)
                if rest:
                    # agg-emission bookkeeping: rows passing the plain
                    # HAVING are the emission sequence (last_agg_hit_*
                    # counts/times prior agg emissions)
                    order = [F.col(c) for c in ctx.order_cols] or [F.monotonically_increasing_id()]
                    gdf = gdf.withColumn("__hit_rn", F.row_number().over(W.orderBy(*order)))
                    ctx.hit_col = "__hit_rn"
                    for i, c in enumerate(rest):
                        name = f"__hitc{i}"
                        gdf = gdf.withColumn(name, self._expr(c, ctx))
                        gdf = gdf.filter(F.col(name)).drop(name)
                    gdf = gdf.drop("__hit_rn")
                    ctx.hit_col = None

        return self._project(gdf, stmt, ctx)

    # ------------------------------------------------------------------ #
    # streaming stateful windows (COUNTWINDOW / STATEWINDOW / SLIDINGWINDOW
    # on unbounded sources; reference window_op.go:520-619,
    # window_v2_op.go:124-247).  The aggregate *inputs* are computed
    # natively (Catalyst) upstream; the stateful op only buffers + reduces
    # vectorized batches, keyed by the window partition.
    # ------------------------------------------------------------------ #
    _STREAM_AGG_OPS = {
        "count": "count", "sum": "sum", "avg": "avg", "min": "min",
        "max": "max", "collect": "collect", "stddev": "stddev",
        "stddevs": "stddevs", "var": "var", "vars": "vars",
        "median": "median", "last_value": "last",
    }

    @staticmethod
    def _scan_order_key(df: DataFrame, ctx: TranslateCtx) -> Optional[Column]:
        """The order that picks a window collection's FIRST row (bare
        columns beside aggregates read Content[0], row.go:743-748): a
        windowed join's ``__rowu`` (the reference's join scan order), else
        the event column, else the first order column."""
        ec = ctx.event_col
        if ctx.join_sliding_keys and "__rowu" in df.columns:
            return F.col("__rowu")
        if ec and ec in df.columns:
            if df.columns.count(ec) == 1:
                return F.col(ec)
            # a joined frame carries the bare event col from BOTH sides:
            # the join scan iterates left rows in order then right rows in
            # order, so "first" ties on the left time break by the RIGHT
            # time — order by the struct of every side's event col (FROM
            # order)
            parts = []
            for a in ctx.source_order:
                try:
                    df.select(F.col(f"{a}.{ec}"))
                except AnalysisException:
                    continue
                parts.append(F.col(f"{a}.{ec}").alias(f"o{len(parts)}"))
            return F.struct(*parts) if parts else None
        if ctx.order_cols and ctx.order_cols[0] in df.columns:
            return F.col(ctx.order_cols[0])
        return None

    def _stream_agg_specs(self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx):
        """Materialize aggregate input expressions as hidden columns and
        build AggSpecs; registers ctx.agg_map for post-agg projection."""
        from ekuiper_spark.streaming.stateful import AggSpec

        agg_nodes: dict[str, FuncCall] = {}
        for f in stmt.fields:
            for a in self._find_aggs(f.expr):
                agg_nodes.setdefault(canon(a), a)
        if stmt.having is not None:
            for a in self._find_aggs(stmt.having):
                agg_nodes.setdefault(canon(a), a)
        specs = []
        for i, (key, call) in enumerate(agg_nodes.items()):
            op = self._STREAM_AGG_OPS.get(call.name.lower())
            if op is None:
                raise NotImplementedError(
                    f"{call.name} is not supported in streaming stateful windows"
                )
            if op == "last" and len(call.args) > 1 and self._raw(call.args[1]):
                op = "last_nn"  # last_value(col, true): skip nulls
            out = f"__agg{i}"
            args = [a for a in call.args if not isinstance(a, Wildcard)]
            if not args:
                in_col = None
            else:
                an_out = ctx.analytic_map.get(canon(args[0]))
                if an_out is not None and an_out not in df.columns:
                    # fused pre-analytics output (virtual column computed
                    # inside the stateful op): feed the aggregate directly
                    in_col = an_out
                else:
                    in_col = f"__in{i}"
                    df = df.withColumn(in_col, self._expr(args[0], ctx))
            specs.append(AggSpec(op, in_col, out))
            ctx.agg_map[key] = out
        return df, specs

    def _dim_col(self, df, d, i, ctx, prefix="__grp"):
        """Materialize one GROUP BY dim and register its dim_map entry.
        Bare source columns group in place; select-ALIAS dims (the
        reference binds FieldRef -> AliasRef in the analyzer, so
        `upper(x) AS c ... GROUP BY c` is valid) materialize the aliased
        expression under the alias name, with the alias TARGET also
        mapped to the group key so the projection reads the key instead
        of recomputing post-aggregation; computed dims get hidden
        columns."""
        if isinstance(d, ColumnRef) and d.source is None:
            tgt = (
                ctx.aliases.get(d.name.lower())
                if d.name not in df.columns
                else None
            )
            if tgt is None:
                ctx.dim_map[canon(d)] = d.name
                return df, d.name
            df = df.withColumn(d.name, self._expr(d, ctx))
            ctx.dim_map[canon(d)] = d.name
            ctx.dim_map.setdefault(canon(tgt), d.name)
            return df, d.name
        name = f"{prefix}{i}"
        df = df.withColumn(name, self._expr(d, ctx))
        ctx.dim_map[canon(d)] = name
        return df, name

    def _stream_raw_first_specs(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx, specs: list
    ):
        """Bare (non-dim) column refs in an aggregate-context stateful
        window resolve as FIRST-of-group — the reference projects the
        grouped collection against its first row (GroupedTuples.Value ->
        Content[0], row.go:743-748).  Mirrors the batch grouped path's
        min_by resolution; here the window buffer is already in event
        order so a positional ``first`` AggSpec is deterministic."""
        from ekuiper_spark.streaming.stateful import AggSpec

        raw_refs: dict[str, ColumnRef] = {}
        for f in stmt.fields:
            for ref in self._find_raw_cols(f.expr):
                raw_refs.setdefault(canon(ref), ref)
        if stmt.having is not None:
            for ref in self._find_raw_cols(stmt.having):
                raw_refs.setdefault(canon(ref), ref)
        specs = list(specs)
        nfr = 0
        for key, ref in raw_refs.items():
            if key in ctx.dim_map or key in ctx.agg_map:
                continue
            if ref.source is None and ref.name in ctx.aliases:
                continue  # alias of a select expression, resolved there
            if ref.source is None and ref.name not in df.columns:
                continue  # not a source column (fails loudly later)
            name = f"__fr{nfr}"
            nfr += 1
            df = df.withColumn(name, self._expr(ref, ctx))
            specs.append(AggSpec("first", name, name))
            ctx.dim_map[key] = name
        return df, specs

    def _stateful_window(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx
    ) -> DataFrame:
        """Streaming COUNT, STATE, capped SESSION and SLIDING windows: one
        pandas-state operator (``stateful.window_agg_stream``) buffers
        rows, cuts windows and reduces them — the streaming twin of the
        batch window lowerings, which rely on window functions Spark
        rejects on streaming frames."""
        from ekuiper_spark.streaming.stateful import AggSpec, window_agg_stream

        group = stmt.group
        window = group.window
        sliding = window.kind == "sliding"
        if window.filter is not None:
            df = df.filter(self._expr(window.filter, ctx))
        # GROUP BY dims sub-group WITHIN each window (the reference's
        # window-then-aggregate order: the window op batches rows, then
        # AggregateOp groups the batch contents) unless they key the state
        grp: list[str] = []
        for i, d in enumerate(group.dims or []):
            df, name = self._dim_col(df, d, i, ctx)
            grp.append(name)
        keys, keyed_by_dims = _window_state_keys(group)
        dims, subgroups = (grp, []) if keyed_by_dims else ([], grp)
        if not keyed_by_dims:
            for i, p in enumerate(keys):
                df, name = self._dim_col(df, p, i, ctx, prefix="__spart")
                dims.append(name)
        df, kw = self._window_trigger_kw(df, window, ctx)
        # window_start()/window_end()/event_time(): a session emits its
        # bounds, a sliding window its trigger time (both below)
        want_meta = _uses_window_meta(*stmt.fields, stmt.having)
        kw["emit_bounds"] = want_meta and window.kind == "session"

        # a non-aggregated SELECT without dims emits the window CONTENT per
        # row (reference window collection -> ProjectOp); GROUP BY dims put
        # it in aggregate context (WithAggFields): one row per (window,
        # dim group), bare columns = first of group.  Sliding windows emit
        # per trigger instead: plain columns ride with the trigger row.
        emit_content = not sliding and not grp and not any(
            self._find_aggs(f.expr) for f in stmt.fields
        )
        passthrough: list[str] = []
        if emit_content:
            passthrough = [
                c for c in df.columns
                if not c.startswith("__")
                and c not in ("window", "_metadata")
                and c not in dims
            ]
        elif sliding:
            for f in stmt.fields:
                for n in self._find_raw_cols(f.expr):
                    if (
                        n.source is None
                        and n.name in df.columns
                        and n.name not in subgroups
                        and n.name not in passthrough
                    ):
                        passthrough.append(n.name)
        if ctx.pending_analytics:
            # fused analytics (AnalyticFuncsPlan BELOW the window; Spark
            # allows one applyInPandasWithState per query): the op advances
            # their state per arriving batch and adds the outputs as
            # virtual columns
            kw["pre_analytics"] = ctx.pending_analytics
        if emit_content or sliding:
            # pre-window analytic outputs ride the buffer like raw columns
            # so the projection above the op can still read them
            pending = {s.out for s in ctx.pending_analytics}
            for oc in list(ctx.analytic_map.values()) + [
                o for outs in ctx.cc_stream.values() for o, _v in outs
            ]:
                if (oc in pending or oc in df.columns) and oc not in passthrough:
                    passthrough.append(oc)

        rank_calls: list = []
        if not sliding:
            df, rank_calls = self._stream_window_ranks(
                df, stmt, ctx, emit_content, subgroups, keyed_by_dims, kw
            )
        df, specs = self._stream_agg_specs(df, stmt, ctx)
        if rank_calls:
            df, specs = self._stream_group_ranks(df, ctx, specs, rank_calls, kw)
        if not emit_content and not sliding:
            df, specs = self._stream_raw_first_specs(df, stmt, ctx, specs)
        frame_content = False
        if sliding:
            if window.trigger is not None:
                # flag conjuncts evaluate natively per row; a gap conjunct
                # routes into the op's stateful lastHit gate
                flag_node, gap = self._split_plain_trigger(window.trigger, ctx)
                df = df.withColumn(
                    "__trig",
                    self._expr(flag_node, ctx) if flag_node is not None else F.lit(True),
                )
                passthrough.append("__trig")
                if gap is not None:
                    # _throttle_spec returns K in µs; the op's frame math
                    # runs in the ts column's OWN unit
                    kw["gap_throttle"] = (
                        gap[0] // 1000 if ctx.event_is_long else gap[0], gap[1]
                    )
            if want_meta and not subgroups:
                # window_start()/window_end()/event_time() read the TRIGGER
                # time: a hidden trigger-row passthrough (__-prefixed pass
                # cols stay trigger-local, not first-of-frame)
                ec = ctx.event_col
                df = df.withColumn(
                    "__et",
                    F.timestamp_millis(F.col(ec)) if ctx.event_is_long else F.col(ec),
                )
                passthrough.append("__et")
            # plain non-agg unkeyed sliding emits the WHOLE frame's rows
            # per trigger (reference RangeSet over the window collection);
            # the delayed/watermark-gated forms have their own content
            # disciplines
            frame_content = not (
                specs or subgroups or kw["delay_us"] or self.watermark
            )
        if ctx.deferred_where is not None:
            keep = self._expr(ctx.deferred_where, ctx)
            if sliding and not (specs or subgroups or frame_content):
                # delayed/gated non-agg sliding: the filter applies to the
                # trigger rows (their pending-trigger content paths carry
                # their own WHERE discipline)
                df = df.filter(keep)
            else:
                # WHERE above the COUNT/SLIDING window (windowPlan.go:92-95):
                # windows form from ALL rows and the op prunes their
                # CONTENT by this keep column; all-pruned windows drop
                df = df.withColumn(
                    "__keep", F.coalesce(keep.cast("boolean"), F.lit(False))
                )
                kw["keep_col"] = "__keep"
            ctx.deferred_where = None
        if ctx.deferred_prefilter is not None:
            kw["pre_filter_col"] = ctx.deferred_prefilter
            ctx.deferred_prefilter = None
        if sliding and subgroups:
            # sliding dims sub-group the frame CONTENT per trigger
            # (TestWindowRule4): the whole frame is visible to every
            # trigger and the raw passthrough columns become per-subgroup
            # `first` aggregates (project-over-grouped first-row rule)
            specs = specs + [AggSpec("first", c, c) for c in passthrough if c != "__trig"]
            passthrough = [c for c in passthrough if c == "__trig"]
            kw["emit_trigger_us"] = want_meta
        kw["frame_content"] = frame_content
        out = window_agg_stream(
            df,
            window.kind,
            dims=dims,
            subgroups=subgroups,
            order_cols=ctx.order_cols,
            aggs=specs,
            passthrough=passthrough,
            emit_content=emit_content,
            **kw,
        )
        if sliding and window.trigger is not None and not subgroups:
            out = out.filter(F.col("__trig")).drop("__trig")
        ctx.post_agg = True
        ctx.window_col = None
        if kw["emit_bounds"]:
            out = self._meta_window(out, F.col("__ws"), F.col("__we"), ctx)
            out = out.drop("__ws", "__we")
            ctx.event_col = "window.end"
        elif sliding and want_meta:
            if subgroups:
                # the op emitted the raw trigger time (column unit)
                out = out.withColumn(
                    "__et",
                    F.timestamp_millis(F.col("__et_us"))
                    if ctx.event_is_long
                    else F.timestamp_micros(F.col("__et_us")),
                ).drop("__et_us")
            et_us = epoch_us(F.col("__et"))
            out = self._meta_window(
                out, et_us - kw["length_us"], et_us + kw["delay_us"], ctx
            )
            ctx.event_col = "__et"
        if stmt.having is not None:
            out = out.filter(self._expr(stmt.having, ctx))
        out = self._project(out, stmt, ctx)
        return out.drop("__et") if "__et" in out.columns else out

    def _window_trigger_kw(self, df: DataFrame, w: WindowSpec, ctx: TranslateCtx):
        """The window kind's trigger arguments to ``window_agg_stream``
        (the reference's per-kind trigger switch, window_op.go:267-292)."""
        if w.kind == "count":
            return df, {"n": w.args[0]}
        if w.kind == "state":
            df = df.withColumn("__swb", self._expr(w.state_conds[0], ctx))
            kw = {"begin_col": "__swb"}
            if len(w.state_conds) > 1:
                df = df.withColumn("__swe", self._expr(w.state_conds[1], ctx))
                kw["emit_col"] = "__swe"
            return df, kw
        # SESSIONWINDOW(unit, length=cap, interval=timeout) (window_op.go:
        # 304) and SLIDINGWINDOW(unit, length[, delay]).  Long event
        # columns carry epoch MILLIS (the reference's native unit) and the
        # op does all frame math in the column's own unit, so the spans
        # scale to ms there; a late-tolerance makes the rule event-time:
        # windows close once the watermark passes them (the reference's
        # event_window_trigger discipline)
        spans = [
            int(a * UNIT_SECONDS[w.unit] * 1_000_000) // (1000 if ctx.event_is_long else 1)
            for a in w.args[:2]
        ]
        kw = {"watermark_gated": bool(self.watermark), "unit_ms": ctx.event_is_long}
        if w.kind == "sliding":
            kw["length_us"] = spans[0]
            kw["delay_us"] = spans[1] if len(spans) > 1 else 0
            return df, kw
        kw["cap_us"], kw["timeout_us"] = spans
        # rule option session_flush_ms: close the trailing open session by
        # processing-time state timeout (the reference's wall-clock ticker
        # close, window_op.go:304-347); off by default so bounded replays
        # stay deterministic
        flush = (self.rule_ctx.get("props") or {}).get("session_flush_ms")
        if flush:
            kw["flush_open_ms"] = int(flush)
        return df, kw

    @staticmethod
    def _meta_window(out: DataFrame, start_us: Column, end_us: Column, ctx) -> DataFrame:
        """The ``window`` struct window_start()/window_end() read above a
        stateful window op."""
        ctx.window_col = "window"
        ctx.window_bounds_ms = ctx.event_is_long
        return out.withColumn(
            "window",
            F.struct(
                F.timestamp_micros(start_us).alias("start"),
                F.timestamp_micros(end_us).alias("end"),
            ),
        )

    def _stream_window_ranks(
        self, df, stmt, ctx, emit_content, subgroups, keyed_by_dims, kw
    ):
        """row_number() over a stateful window (reference WindowFuncPlan
        sits above the window, windowfunc_operator.go:27-160): Spark
        rejects rank window functions on streaming frames, so the op ranks
        each emitted window.  Returns the frame and the calls that rank
        the GROUPS of a window once the agg specs exist."""
        from ekuiper_spark.streaming.stateful import WinFuncSpec

        rn_calls: dict[str, FuncCall] = {}
        for f in stmt.fields:
            for c in self._find_fn_calls(f.expr, "row_number"):
                rn_calls.setdefault(canon(c), c)
        if not rn_calls:
            return df, []
        if emit_content:
            specs = []
            for i, (ckey, call) in enumerate(rn_calls.items()):
                parts, orders, ascs = [], [], []
                for j, p in enumerate(call.partition_by):
                    nm = f"__wf{i}p{j}"
                    df = df.withColumn(nm, self._expr(p, ctx))
                    parts.append(nm)
                for j, s in enumerate(call.order_by):
                    nm = f"__wf{i}o{j}"
                    df = df.withColumn(nm, self._expr(s.expr, ctx))
                    orders.append(nm)
                    ascs.append(bool(s.asc))
                out_nm = f"__wf{i}"
                specs.append(WinFuncSpec(out_nm, tuple(parts), tuple(orders), tuple(ascs)))
                ctx.winfunc_map[ckey] = out_nm
            kw["winfuncs"] = specs
            return df, []
        if subgroups:
            # GROUP BY dims: rank the GROUPS within each window
            # (WindowFuncPlan above AggregatePlan, planner.go:807-833; same
            # semantics as the batch __grpord path)
            return df, list(rn_calls.items())
        if keyed_by_dims:
            # the dims KEY the window (capped sessions, batch included), so
            # every emitted window holds exactly ONE group and the group
            # rank is constant 1
            ctx.rank_const1.update(rn_calls)
        # else: aggregated SELECT without dims — the rank of the
        # collection's first row is 1 (rowNumberFuncHandle assigns 1..n per
        # content row; the aggregate projection reads Content[0]), which
        # _expr's no-window branch already yields
        return df, []

    def _stream_group_ranks(self, df, ctx, specs, rank_calls, kw):
        """Group-rank WinFuncSpecs whose OVER keys resolve to grouped-row
        OUTPUT columns: a dim -> its subgroup col; an aggregate -> its spec
        out (registering a hidden spec if absent); a raw column -> a hidden
        first-of-group spec."""
        from ekuiper_spark.streaming.stateful import AggSpec, WinFuncSpec

        specs = list(specs)

        def out_col(node: Node, tag: str) -> str:
            nonlocal df
            k = canon(node)
            if k in ctx.dim_map:
                return ctx.dim_map[k]
            if k in ctx.agg_map:
                return ctx.agg_map[k]
            aggs_in = self._find_aggs(node)
            if aggs_in:
                if len(aggs_in) != 1 or canon(aggs_in[0]) != k:
                    raise NotImplementedError(
                        "row_number OVER keys over grouped windows "
                        "support a dim, a bare aggregate call, or a "
                        "raw column (batch supports expressions)"
                    )
                call2 = aggs_in[0]
                op2 = self._STREAM_AGG_OPS.get(call2.name.lower())
                if op2 is None:
                    raise NotImplementedError(
                        f"{call2.name} is not supported in streaming "
                        "stateful windows"
                    )
                out2 = f"__wfagg{tag}"
                args2 = [a for a in call2.args if not isinstance(a, Wildcard)]
                in2 = None
                if args2:
                    in2 = f"__wfin{tag}"
                    df = df.withColumn(in2, self._expr(args2[0], ctx))
                specs.append(AggSpec(op2, in2, out2))
                ctx.agg_map[k] = out2
                return out2
            out2 = f"__wffr{tag}"
            df = df.withColumn(out2, self._expr(node, ctx))
            specs.append(AggSpec("first", out2, out2))
            ctx.dim_map[k] = out2
            return out2

        wf_specs = []
        for i, (ckey, call) in enumerate(rank_calls):
            parts = [out_col(p, f"{i}p{j}") for j, p in enumerate(call.partition_by)]
            orders, ascs = [], []
            for j, s in enumerate(call.order_by):
                orders.append(out_col(s.expr, f"{i}o{j}"))
                ascs.append(bool(s.asc))
            out_nm = f"__wf{i}"
            wf_specs.append(
                WinFuncSpec(out_nm, tuple(parts), tuple(orders), tuple(ascs), group_rank=True)
            )
            ctx.winfunc_map[ckey] = out_nm
        kw["winfuncs"] = wf_specs
        return df, specs

    def _sliding_membership_key(self, df: DataFrame, w: WindowSpec, ctx: TranslateCtx):
        """Batch sliding windows as REAL window collections: every
        triggering event t defines a frame (t-L, t+D], and each row joins
        every frame it belongs to — the reference's window-then-aggregate
        order (window_op.go:593-619 scan + AggregateOp/ProjectOp over the
        batched content), needed when the output cardinality exceeds one
        row per trigger: GROUP BY dims sub-groups the CONTENT per trigger
        (TestWindowRule4 emits blue AND red rows at a blue trigger) and
        non-aggregated sliding emits the whole frame (TestWindowRule0).

        Join shape: rows bucket by W=L+D and explode into the <=2 buckets
        their candidate triggers occupy; triggers carry their own bucket —
        an equi-join on the bucket plus the range predicate, shuffling on
        the bucket id.  Output size = total frame membership, which IS the
        semantic output (the reference materializes the same collections
        per trigger); the one-row-per-trigger aggregate case without dims
        stays on the O(n log n) range-frame path instead.
        """
        ec = ctx.event_col
        if ec is None:
            raise ValueError("sliding window requires an event-time column")
        L = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
        D = int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000) if len(w.args) > 1 else 0
        Wd = L + D
        if ctx.event_is_long:
            us = self._event_ref(ctx) * 1000
            ctx.window_bounds_ms = True
        else:
            us = epoch_us(self._event_ref(ctx))
        base = df.withColumn("__ru", us)
        if w.trigger is not None:
            # flag conjuncts filter candidates natively; a gap conjunct
            # runs the sequential lastHit scan over the REMAINING
            # candidates (exact: lastHit advances only on full hits)
            flag_node, gap_spec_m = self._split_plain_trigger(w.trigger, ctx)
            trig = base
            if flag_node is not None:
                trig = trig.filter(self._expr(flag_node, ctx))
            if gap_spec_m is not None:
                trig = self._throttle_triggers(trig, gap_spec_m[0], gap_spec_m[1])
        else:
            trig = base
        # every trigger ROW is its own window (the reference emits one per
        # event), so the trigger key must be row-unique even under equal
        # timestamps: order tiebreaks + a synthetic id (internal only —
        # dropped before output, so its run-to-run variation is invisible)
        tie = [c for c in ctx.order_cols if c in df.columns]
        trig = trig.withColumn("__tid", F.monotonically_increasing_id())
        tie = tie + ["__tid"]

        def _tie_col(c: str) -> Column:
            # variant order columns (dynamic streams) are not orderable
            # inside a group key; their epoch-ms long is
            if c in df.columns and isinstance(df.schema[c].dataType, T.VariantType):
                return F.col(c).try_cast("long")
            return F.col(c)

        tkey = F.struct(
            F.col("__ru").alias("u"),
            *[_tie_col(c).alias(f"t{i}") for i, c in enumerate(tie)],
        )
        triggers = (
            trig.select(F.col("__ru").alias("__tu"), tkey.alias("__tkey"))
            .withColumn("__tb", F.floor(F.col("__tu") / Wd))
        )
        # row u belongs to trigger t's frame iff t-L <= u <= t+D (delay:
        # right bound t+D EXCLUSIVE — handleInputs keeps ts >= left,
        # isTimeRelatedWindow makes ts < right when Delay > 0), i.e.
        # t in (u-D, u+L] — an interval of width exactly W, so it spans at
        # most two W-buckets
        b1 = F.floor((F.col("__ru") - D) / Wd)
        b2 = F.floor((F.col("__ru") + L) / Wd)
        members = base
        if ctx.deferred_where is not None:
            # WHERE above the window (windowPlan.go:92-95): triggers come
            # from ALL rows, but only passing rows are frame CONTENT; a
            # trigger whose frame empties drops via the inner join (the
            # FilterOp all-pruned rule, filter_operator.go:84-87)
            members = base.filter(self._expr(ctx.deferred_where, ctx))
            ctx.deferred_where = None
        rows = members.withColumn("__rb", F.explode(F.array_distinct(F.array(b1, b2))))
        right_ok = (
            (rows["__ru"] < triggers["__tu"] + D)
            if D
            else (rows["__ru"] <= triggers["__tu"])
        )
        j = rows.join(
            triggers,
            (rows["__rb"] == triggers["__tb"])
            & (rows["__ru"] >= triggers["__tu"] - L)
            & right_ok,
        ).drop("__rb", "__tb", "__ru")
        j = j.withColumn(
            "window",
            F.struct(
                F.timestamp_micros(F.col("__tu") - L).alias("start"),
                F.timestamp_micros(F.col("__tu") + D).alias("end"),
            ),
        ).drop("__tu")
        ctx.window_col = "window"
        return j, ["__tkey", "window"]

    def _event_ref(self, ctx: TranslateCtx) -> Column:
        """The event-time column, qualified with the primary (stream)
        source when a join makes the bare name ambiguous."""
        ec = ctx.event_col
        if (
            len(ctx.source_aliases) > 1
            and ctx.primary_alias
            and "." not in (ec or "")
        ):
            col = F.col(f"{ctx.primary_alias}.{ec}")
        else:
            col = F.col(ec)
        if getattr(ctx, "event_is_variant", False):
            # dynamic stream: epoch-ms long under a VARIANT wrapper
            col = col.try_cast("long")
        return col

    def _throttle_spec(self, node, ctx: TranslateCtx):
        """Detect the gap-throttle trigger form ``ts - last_hit_time() > K``
        (TestWindowRule4): last_hit_time() is the time of the previous
        EMISSION, so the trigger set is a sequential scan — emit when the
        gap since the last emitted event exceeds K, then advance.  Only
        exact for the epoch-millis event column the reference uses
        natively; other shapes keep the per-row approximation."""
        if not (isinstance(node, Binary) and node.op in (">", ">=")):
            return None
        k = self._raw(node.right)
        l = node.left
        if (
            k is not None
            and ctx.event_is_long
            and isinstance(l, Binary)
            and l.op == "-"
            and isinstance(l.right, FuncCall)
            and l.right.name == "last_hit_time"
            and isinstance(l.left, ColumnRef)
            and l.left.source is None
            and l.left.name == ctx.event_col
        ):
            return int(k) * 1000, node.op == ">="  # ms -> us
        return None

    def _throttle_triggers(self, base: DataFrame, thresh_us: int, ge: bool) -> DataFrame:
        return self._sequential_throttle(base, "__ru", thresh_us, ge)

    def _split_plain_trigger(self, trigger: Node, ctx: TranslateCtx):
        """Decompose a NON-join sliding OVER(WHEN) into (flag_node|None,
        gap_spec|None) — a pure per-tuple boolean returns (trigger,
        None); the `ts - last_hit_time() > K` form returns (None, spec);
        a top-level AND combines flag conjuncts with ONE gap conjunct
        (exact: lastHit advances only on full hits, isMatchCondition
        window_op.go:757-784).  last_hit_* in any other shape — or over
        a non-epoch-ms event column, where the gap parse cannot apply —
        raises actionably instead of falling into the per-row lag
        approximation (which mis-states lastHit and crashes the analyzer
        on TIMESTAMP columns)."""
        if not any(self._find_fn_calls(trigger, h) for h in self._HIT_FNS):
            return trigger, None
        spec = self._throttle_spec(trigger, ctx)
        if spec is not None:
            return None, spec
        gap = None
        flags: list[Node] = []
        for c in conjuncts(trigger):
            s = self._throttle_spec(c, ctx)
            if s is not None:
                if gap is not None:
                    raise NotImplementedError(
                        "sliding-window triggers support at most one "
                        "gap-throttle conjunct"
                    )
                gap = s
            elif any(self._find_fn_calls(c, h) for h in self._HIT_FNS):
                raise NotImplementedError(
                    "sliding-window triggers with last_hit_* support "
                    "'[flag AND] <event_col> - last_hit_time() > K' over "
                    "an epoch-ms event column (the reference's native "
                    "representation; window_op.go isMatchCondition)"
                )
            else:
                flags.append(c)
        if gap is None:
            raise NotImplementedError(
                "sliding-window triggers with last_hit_* support "
                "'[flag AND] <event_col> - last_hit_time() > K' over an "
                "epoch-ms event column"
            )
        return conjoin(flags), gap

    def _agg_hit_throttle_spec(self, node, ctx: TranslateCtx):
        """Detect ``X - last_agg_hit_time() > K`` in a HAVING conjunct;
        returns (X node, K, ge) or None.  The alias map is consulted so
        `lc`-style HAVING aliases still route through the generic path."""
        if not (isinstance(node, Binary) and node.op in (">", ">=")):
            return None
        k = self._raw(node.right)
        l = node.left
        if (
            k is not None
            and isinstance(l, Binary)
            and l.op == "-"
            and isinstance(l.right, FuncCall)
            and l.right.name == "last_agg_hit_time"
        ):
            return l.left, int(k), node.op == ">="
        return None

    def _sequential_throttle(
        self, base: DataFrame, value_col: str, thresh: int, ge: bool
    ) -> DataFrame:
        """Sequential gap-throttle over ``value_col``: keep a row iff its
        value minus the LAST KEPT value exceeds the threshold, advancing
        only on keeps (funcs_global_state.go hit bookkeeping — the state
        updates on emission, not on every candidate).  Single partition,
        like the reference's single-process trigger state; loudly warned."""
        import warnings

        warnings.warn(
            "gap-throttle over last_hit_time()/last_agg_hit_time() runs a "
            "sequential scan on one partition (reference single-process "
            "emission bookkeeping)",
            UserWarning,
            stacklevel=4,
        )
        import pandas as pd

        schema = base.schema

        # a stable sort with the id as tie-break keeps the same row among
        # equal values on every recompute (the shuffle delivers rows in no
        # fixed order)
        order = [value_col] + (["__ttid"] if "__ttid" in schema.names else [])

        def scan(_key, pdf: "pd.DataFrame"):
            pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
            last = 0  # reference initial lastHit = Go zero value
            keep = []
            for u in pdf[value_col]:
                gap = int(u) - last
                hit = gap >= thresh if ge else gap > thresh
                keep.append(hit)
                if hit:
                    last = int(u)
            return pdf[pd.Series(keep, index=pdf.index)].drop(columns="__g0")

        gschema = T.StructType(list(schema.fields))
        return (
            base.withColumn("__g0", F.lit(0))
            .groupBy("__g0")
            .applyInPandas(lambda key, pdf: scan(key, pdf), gschema)
        )

    def _window_key(self, df: DataFrame, w: WindowSpec, ctx: TranslateCtx):
        """Materialize the window group key column; returns (df, key_name)."""
        ec = ctx.event_col
        if w.kind == "sliding":
            if ctx.join_sliding_keys:
                # windowed join: membership + trigger keys were computed
                # with the join in _batch_sliding_join
                return df, list(ctx.join_sliding_keys)
            return self._sliding_membership_key(df, w, ctx)
        if w.kind in ("tumbling", "hopping", "session") and ec is None:
            raise ValueError("time window requires an event-time column")
        # long event columns carry epoch millis (the reference's native
        # representation) — time windows need a timestamp, and the window
        # bounds convert back to ms at projection
        if ec and ctx.event_is_long and w.kind in ("tumbling", "hopping", "session"):
            # with a watermark, the window must build over the hidden
            # watermarked __evt column for Spark's append-mode binding
            ecol = (
                F.col(ctx.wm_col) if ctx.wm_col
                else F.timestamp_millis(self._event_ref(ctx))
            )
            ctx.window_bounds_ms = True
        else:
            ecol = F.col(ec) if ec else None
        if w.kind == "tumbling":
            if ctx.join_window_col:
                # stream-stream join already bucketed both sides into this
                # window; reuse the join bucket as the group key
                df = df.withColumnRenamed(ctx.join_window_col, "window")
                if ctx.window_shrink_us and not self.streaming:
                    df = _shrink_window(df, ctx.window_shrink_us)
                    ctx.window_shrink_us = None
                ctx.window_col = "window"
                return df, ["window"]
            dur = self._dur(w, 0)
            df = df.withColumn("window", F.window(ecol, dur))
            ctx.window_col = "window"
            return df, ["window"]
        if w.kind == "hopping":
            if ctx.join_window_col:
                # stream-stream join already exploded/bucketed both sides
                # into the hopping instances; reuse the join bucket
                df = df.withColumnRenamed(ctx.join_window_col, "window")
                if ctx.window_shrink_us and not self.streaming:
                    df = _shrink_window(df, ctx.window_shrink_us)
                    ctx.window_shrink_us = None
                ctx.window_col = "window"
                return df, ["window"]
            if w.args[1] > w.args[0]:
                # sparse hopping (interval > length, TestHoppingWindowSQL1/3
                # in rule_test.go): the reference aligns window ENDS to the
                # interval grid (getAlignedWindowEndTime, window_op.go:212-245;
                # first end via event_window_trigger.go:57-75, then +interval)
                # so each window is [k*interval - length, k*interval).
                # Spark's window() rejects slide > duration, so membership is
                # a filter + derived bucket (rows in the gaps drop).  For
                # intervals that don't divide the reference's minute/hour
                # alignment grid its first end is seeded from the first
                # event's minute; we use the epoch grid (identical whenever
                # interval divides the coarser unit — every corpus case).
                length_us = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
                hop_us = int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000)
                e = epoch_us(ecol)
                wend = (F.floor(e / hop_us) + 1) * hop_us
                df = df.filter(e >= wend - length_us).withColumn(
                    "window",
                    F.struct(
                        F.timestamp_micros(wend - length_us).alias("start"),
                        F.timestamp_micros(wend).alias("end"),
                    ),
                )
                ctx.window_col = "window"
                return df, ["window"]
            dur, hop = self._dur(w, 0), self._dur(w, 1)
            # dense hopping: the reference's windows are end-aligned to the
            # interval grid ([k*hop - length, k*hop)); Spark's window() is
            # start-aligned.  The families coincide iff hop | length —
            # otherwise shift Spark's grid by (-length) mod hop.
            length_us = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
            hop_us = int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000)
            off_us = (hop_us - (length_us % hop_us)) % hop_us
            if off_us:
                df = df.withColumn(
                    "window", F.window(ecol, dur, hop, f"{off_us} microseconds")
                )
            else:
                df = df.withColumn("window", F.window(ecol, dur, hop))
            ctx.window_col = "window"
            return df, ["window"]
        if w.kind == "session":
            if len(w.args) >= 2:
                return self._session_capped(df, w, ctx)
            # 1-arg dialect relaxation: plain gap sessionization (native
            # session_window; splits at gap >= timeout, half-open)
            gap = self._dur(w, 0)
            df = df.withColumn("window", F.session_window(ecol, gap))
            ctx.window_col = "window"
            return df, ["window"]
        if w.kind == "count":
            n = w.args[0]
            # global event sequence WITHOUT a single sort partition: range-
            # repartition on the order cols (partition ids follow the sort
            # order), number rows per partition, then add per-partition
            # offsets (one tiny count job — the classic scalable
            # zipWithIndex; two passes over the input, both parallel)
            df, rn_col = self._global_row_number(df, ctx)
            df = df.withColumn("__wid", F.floor((F.col(rn_col) - 1) / F.lit(n))).drop(rn_col)
            if ctx.count_fast:
                # aggregated caller: the full-window check and window
                # bounds move ONTO the post-aggregation frame (one row per
                # (window, dims)), so the only full-row shuffle is the
                # row-number bucketing — the groupBy that follows combines
                # map-side and its shuffle carries partial rows
                ctx.window_col = "window" if ec is not None else None
                return df, ["__wid"]
            # only full windows emit (window_op.go:520-568) — checked on
            # the WINDOW's size here, before any GROUP BY dims sub-group
            # the window contents
            wp = W.partitionBy(F.col("__wid"))
            wc = F.count(F.lit(1)).over(wp)
            df = df.withColumn("__wc", wc).filter(F.col("__wc") == n).drop("__wc")
            if ec is not None:
                # count-window range = [first event time, last event time]
                # (xsql/collection.go WindowRange; window_rule_test.go
                # TestWindowRule9 expects window_end = the n-th row's ts) —
                # computed over the UNFILTERED window, before any deferred
                # WHERE prunes content
                df = df.withColumn(
                    "window",
                    F.struct(
                        F.min(F.col(ec)).over(wp).alias("start"),
                        F.max(F.col(ec)).over(wp).alias("end"),
                    ),
                )
                ctx.window_col = "window"
                wnames = ["__wid", "window"]
            else:
                ctx.window_col = None
                wnames = ["__wid"]
            if ctx.deferred_where is not None:
                # WHERE above the count window (windowPlan.go:92-95): the
                # window fills from ALL rows, then the filter prunes its
                # content (TestAliasOrderBy14: COUNTWINDOW(5) fills from 5
                # rows, 3 survive the filter); a fully-pruned window drops
                # whole (filter_operator.go:84-87)
                df = df.filter(self._expr(ctx.deferred_where, ctx))
                ctx.deferred_where = None
            return df, wnames
        if w.kind == "state":
            return self._state_window(df, w, ctx)
        raise ValueError(f"unknown window kind {w.kind}")

    def _session_capped(self, df: DataFrame, w: WindowSpec, ctx: TranslateCtx):
        """SESSIONWINDOW(unit, length, interval) with reference semantics
        (internal/topo/node/window_op.go:304-347, docs/en_US/sqls/
        windows.md:62-74): a session extends while consecutive events are
        within `interval` (timeout; a gap exactly equal to it extends),
        and is force-closed at the first cap-grid tick T = k*length with
        T - session_start > length — max-duration checks run on a grid the
        size of the cap, so a session can live up to 2*length.

        Construction (pure window functions; the oracle states it
        identically in ANSI SQL): timeout islands via gaps-and-islands,
        then cap-splitting.  Within an island, the occupied length-grid
        buckets form runs of consecutive buckets, and the greedy close
        rule (next session starts at the first event past the closing
        tick) is exactly "pair buckets (run_first+2k, run_first+2k+1)" —
        so the in-run session id is (bucket - run_first_bucket) div 2.
        Closing-tick membership is INCLUSIVE like the reference
        (window_op.go:322 ``tt.After(tick)`` is strict): an event exactly
        AT the closing tick T = (run_first + 2k) * cap lands at the left
        edge of an even-offset bucket and is re-assigned to the closing
        session k-1 (whose bucket run_first+2k-1 is occupied — runs are
        consecutive).  This is exact whenever interval < length: the next
        in-island event after an on-tick one is <= timeout < cap later,
        i.e. still inside bucket run_first+2k, so session starts keep
        their even-bucket parity.  Residual (documented) corner when
        interval >= length: a bucket whose only events sit exactly on
        its left-edge tick shifts the true greedy start of the following
        session by one bucket; the streaming sessionizer
        (stateful.fn_session) runs the exact sequential scan and has no
        such corner.

        Scale: all shuffles key on the GROUP BY dims; unkeyed capped
        sessions collapse to one sort partition (reference single-process
        semantics) and warn, same as the other unkeyed windows.
        """
        ec = ctx.event_col
        cap_us = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
        timeout_us = int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000)
        e = (F.col(ec) * 1000) if ctx.event_is_long else epoch_us(F.col(ec))
        parts = [F.col(n) for n in ctx.window_parts]
        if not parts:
            # scale path: cap-grid bucket partitioning with boundary
            # shadows (see _session_capped_unkeyed) — no global sort.
            # With interval > length the shadow depth grows to
            # ceil(timeout/cap) buckets; still bounded row duplication,
            # never a single partition.
            ctx.session_fast = None  # deferred bounds apply to the keyed path only
            return self._session_capped_unkeyed(df, e, cap_us, timeout_us, ctx)
        # ONE sort drives the whole island -> run -> session derivation:
        # every key in the chain is MONOTONE in event time per partition,
        # so dense_rank/min-over-group collapse to running counts and
        # last(ignoreNulls) carries over (parts ORDER BY __us) frames.
        # (The naive formulation — dense_rank over (parts, isl) then
        # min over (parts, isl, run) — costs one extra SORT per pass;
        # at sf1 those sorts dominated the query, BENCH_r07's worst
        # scaler.)  A second sort remains for the per-session end bound,
        # which needs forward visibility.
        df = df.withColumn("__us", e)
        wp = W.partitionBy(*parts).orderBy("__us")
        run_f = wp.rowsBetween(W.unboundedPreceding, 0)
        # the previous event time is materialized ONCE; every later
        # "previous row" value in the chain that is a pure function of it
        # (previous bucket, previous session id) derives arithmetically
        # instead of via its own lag — each avoided lag over an
        # already-consumed column is a whole extra Window pass (r12:
        # 10 Window nodes -> 6 in the aggregated plan)
        df = df.withColumn("__prev", F.lag("__us").over(wp))
        prev = F.col("__prev")
        new_isl = (prev.isNull() | ((F.col("__us") - prev) > timeout_us)).cast("int")
        df = df.withColumn("__nisl", new_isl)
        df = df.withColumn("__isl", F.sum("__nisl").over(run_f))
        df = df.withColumn("__bkt", F.floor(F.col("__us") / cap_us))
        # dense_rank(__bkt) within (parts, __isl): __bkt is non-decreasing
        # in __us, so rank = running count of bucket starts since the
        # island opened.  The previous row's bucket is floor(__prev / cap)
        # — no second lag pass.
        prev_bkt = F.floor(prev / cap_us)
        chg = (
            (F.col("__nisl") == 1)
            | prev.isNull()
            | (F.col("__bkt") != prev_bkt)
        ).cast("int")
        df = df.withColumn("__chg", chg)
        df = df.withColumn("__cnt", F.sum("__chg").over(run_f))
        df = df.withColumn(
            "__cnt0",
            F.last(F.when(F.col("__nisl") == 1, F.col("__cnt")), ignorenulls=True).over(run_f),
        )
        df = df.withColumn(
            "__run", F.col("__bkt") - (F.col("__cnt") - F.col("__cnt0") + 1)
        )
        new_run = (
            (F.col("__nisl") == 1)
            | (F.col("__run") != F.lag("__run").over(wp))
        )
        df = df.withColumn("__nrun", new_run.cast("int"))
        run_first = F.last(
            F.when(F.col("__nrun") == 1, F.col("__bkt")), ignorenulls=True
        ).over(run_f)
        df = df.withColumn("__rf", run_first)
        df = df.withColumn(
            "__sess", F.floor((F.col("__bkt") - F.col("__rf")) / F.lit(2))
        )
        # inclusive close: an event exactly at an even-offset bucket's left
        # edge is at the previous session's force-close tick — move it there
        on_tick = (
            ((F.col("__us") % cap_us) == 0)
            & (((F.col("__bkt") - F.col("__rf")) % 2) == 0)
            & (F.col("__bkt") > F.col("__rf"))
        )
        df = df.withColumn("__sess", F.col("__sess") - on_tick.cast("long"))
        df = df.withColumn("__sb", F.col("__rf") + F.col("__sess") * 2)  # session start bucket
        if ctx.session_fast:
            # aggregated consumer: the session bounds are min/max of the
            # group's event times plus per-group constants (__sb), so they
            # ride the aggregation as hidden min/max(__us) aggregates and
            # the window struct is rebuilt post-agg (see _grouped) —
            # saving the session-first/lag passes, the re-sort and the
            # whole-group max Window below.
            ctx.session_fast = (timeout_us, cap_us)
            ctx.window_col = "window"
            df = df.drop(
                "__prev", "__bkt", "__nisl", "__chg", "__cnt", "__cnt0",
                "__nrun", "__rf",
            )
            return df, ["__isl", "__run", "__sess", "__sb"]
        # session-first event: sessions are CONTIGUOUS in __us order (the
        # on-tick correction only pulls a bucket's leading tick rows back
        # one session, keeping the sequence monotone), so the opening
        # event is a running last(ignoreNulls) — no extra sort.  The
        # previous row's session id derives from __prev arithmetically:
        # when __nrun = 0 the previous row shares this row's run (hence
        # its __rf), so prev_sess = pairing(prev_bkt) under the same
        # __rf; when __nrun = 1 the disjunct short-circuits and the
        # derived value is irrelevant.
        prev_on_tick = (
            ((prev % cap_us) == 0)
            & (((prev_bkt - F.col("__rf")) % 2) == 0)
            & (prev_bkt > F.col("__rf"))
        )
        prev_sess = (
            F.floor((prev_bkt - F.col("__rf")) / F.lit(2)) - prev_on_tick.cast("long")
        )
        new_sess = (
            (F.col("__nrun") == 1)
            | (F.col("__sess") != prev_sess)
        )
        df = df.withColumn("__nsess", new_sess.cast("int"))
        first_us = F.last(
            F.when(F.col("__nsess") == 1, F.col("__us")), ignorenulls=True
        ).over(run_f)
        # window start: an island's FIRST session opens at its first event;
        # follow-up sessions open AT the previous force-close tick —
        # window_op.go:734 keeps triggerTime = the close time, and
        # TestWindowRule5/TestEventWindowRule8 expect ws = tick (490000)
        # for the 2nd+ session even though its first event is later.  The
        # previous session's close tick is exactly __sb * cap.  (With
        # interval >= length an island can span non-adjacent bucket runs;
        # a later run's first session then re-opens at its first event
        # here rather than the stale close tick — same documented corner
        # as the pairing construction above.)
        start_us = F.when(
            F.col("__sess") > 0, F.col("__sb") * cap_us
        ).otherwise(first_us)
        # close = min(last event + timeout, the force-close tick); the
        # session's LAST event needs forward visibility — the one
        # remaining extra sort
        wsess = W.partitionBy(*parts, F.col("__isl"), F.col("__run"), F.col("__sess"))
        end_us = F.least(
            F.max("__us").over(wsess) + timeout_us, (F.col("__sb") + 2) * cap_us
        )
        df = df.withColumn(
            "window",
            F.struct(
                F.timestamp_micros(start_us).alias("start"),
                F.timestamp_micros(end_us).alias("end"),
            ),
        ).drop(
            "__us", "__prev", "__bkt", "__sb", "__nisl", "__chg", "__cnt",
            "__cnt0", "__nrun", "__rf", "__nsess",
        )
        ctx.window_col = "window"
        return df, ["__isl", "__run", "__sess", "window"]

    def _session_capped_unkeyed(
        self, df: DataFrame, e, cap_us: int, timeout_us: int, ctx: TranslateCtx
    ):
        """Unkeyed capped SESSIONWINDOW without a global sort partition.

        With timeout <= cap, the island-gap lag looks back at most
        ``timeout`` — i.e. never beyond the previous cap bucket — so the
        sequential prefix computations distribute:

        1. each row whose time falls in the boundary strip
           [(k+1)*cap - timeout, (k+1)*cap) also SHADOWS into bucket k+1
           (one scan, explode — the _sliding_buckets technique), giving
           every bucket's first native row its true predecessor for the
           gap check;
        2. island ids = per-bucket running sum of new-island flags plus a
           broadcast prefix-sum of per-bucket flag counts (one tiny job —
           the same pattern as the COUNTWINDOW global sequence).  A
           bucket whose predecessor bucket is empty implies gap > cap >=
           timeout, so a missing shadow correctly reads as a new island;
        3. the run/pairing metadata lives on the DISTINCT (island, bucket)
           table — one row per occupied cap bucket, O(time_range / cap)
           << data — whose window functions are cheap at any scale; it
           broadcast-joins back onto the rows;
        4. session start/end/aggregation then partition by (isl, run,
           sess) — millions of sessions spread across the cluster.

        Output is bit-identical to the keyed construction (same pairing +
        inclusive-close adjustment); pinned by tests/test_scale_paths.py.
        """
        df = df.withColumn("__us", e).withColumn("__bkt", F.floor(F.col("__us") / cap_us))
        # deterministic tiebreaker: the gap-lag and the island cumsum run
        # in different Window operators, so equal timestamps need a total
        # order or a flagged row's ties could land in different islands
        df = df.withColumn("__rid", F.monotonically_increasing_id())
        # 1. explode into home bucket + boundary-strip shadows.  A row
        # must be visible to the gap-lag of every bucket whose start lies
        # within `timeout` after it — ceil(timeout/cap) following buckets
        # (exactly one when timeout <= cap, the common case).  Any
        # predecessor within timeout of bucket b's start therefore shadows
        # into b, so a bucket-first native row's lag is its true
        # predecessor, and a missing shadow correctly means gap > timeout.
        depth = -(-timeout_us // cap_us)
        strips = [
            F.when(
                F.col("__us") >= (F.col("__bkt") + jj) * cap_us - timeout_us,
                F.struct((F.col("__bkt") + jj).alias("b"), F.lit(True).alias("sh")),
            )
            for jj in range(1, depth + 1)
        ]
        branches = F.array_compact(
            F.array(
                F.struct(F.col("__bkt").alias("b"), F.lit(False).alias("sh")),
                *strips,
            )
        )
        df = (
            df.withColumn("__sca", F.explode(branches))
            .withColumn("__scb", F.col("__sca.b"))
            .withColumn("__shadow", F.col("__sca.sh"))
            .drop("__sca")
        )
        # 2. gap check inside the shadow bucket, then drop shadows
        wb = W.partitionBy("__scb").orderBy("__us", "__rid")
        prev = F.lag("__us").over(wb)
        new_isl = (prev.isNull() | ((F.col("__us") - prev) > timeout_us)).cast("long")
        df = df.withColumn("__ni", new_isl).filter(~F.col("__shadow")).drop("__shadow")
        counts = (
            df.groupBy("__scb").agg(F.sum("__ni").alias("c")).collect()
        )
        offsets, running = [], 0
        for row in sorted(counts, key=lambda r: r["__scb"]):
            offsets.append((int(row["__scb"]), running))
            running += int(row["c"] or 0)
        off_df = F.broadcast(
            self.spark.createDataFrame(offsets, "__scb long, __ioff long")
        )
        df = df.join(off_df, "__scb", "left").fillna(0, ["__ioff"])
        df = df.withColumn(
            "__isl",
            F.col("__ioff")
            + F.sum("__ni").over(wb.rowsBetween(W.unboundedPreceding, 0)),
        ).drop("__ni", "__ioff", "__scb")
        # 3. run/pairing metadata on the tiny distinct-bucket table
        D = df.select("__isl", "__bkt").distinct()
        wdi = W.partitionBy("__isl").orderBy("__bkt")
        D = D.withColumn("__run", F.col("__bkt") - F.dense_rank().over(wdi))
        D = D.withColumn(
            "__rf", F.min("__bkt").over(W.partitionBy("__isl", "__run"))
        )
        df = df.join(F.broadcast(D), ["__isl", "__bkt"], "left")
        # 4. parity pairing + inclusive-close adjustment (same as keyed)
        sess = F.floor((F.col("__bkt") - F.col("__rf")) / F.lit(2))
        on_tick = (
            ((F.col("__us") % cap_us) == 0)
            & (((F.col("__bkt") - F.col("__rf")) % 2) == 0)
            & (F.col("__bkt") > F.col("__rf"))
        )
        df = df.withColumn("__sess", sess - on_tick.cast("long"))
        df = df.withColumn("__sb", F.col("__rf") + F.col("__sess") * 2)
        wsess = W.partitionBy("__isl", "__run", "__sess")
        # follow-up sessions open at the previous force-close tick (see
        # the keyed construction for the reference citation)
        start_us = F.when(
            F.col("__sess") > 0, F.col("__sb") * cap_us
        ).otherwise(F.min("__us").over(wsess))
        end_us = F.least(
            F.max("__us").over(wsess) + timeout_us, (F.col("__sb") + 2) * cap_us
        )
        df = df.withColumn(
            "window",
            F.struct(
                F.timestamp_micros(start_us).alias("start"),
                F.timestamp_micros(end_us).alias("end"),
            ),
        ).drop("__us", "__bkt", "__sb", "__rf", "__rid")
        ctx.window_col = "window"
        return df, ["__isl", "__run", "__sess", "window"]

    def _global_row_number(self, df: DataFrame, ctx: TranslateCtx) -> tuple[DataFrame, str]:
        """Globally-contiguous 1-based row numbers over ctx.order_cols
        without a single sort partition (the classic scalable zipWithIndex):

        1. approx-quantile boundaries of the leading order key (tiny job)
        2. deterministic bucket id = #boundaries below the key — the SAME
           expression feeds both later passes, so bucket assignment can't
           drift between jobs (repartitionByRange would re-sample)
        3. per-bucket counts (small job) -> prefix-sum offsets
        4. row_number within bucket (parallel sort) + bucket offset

        Rows with equal leading keys land in one bucket, so concatenating
        buckets in id order preserves the global (ts, tiebreak...) order.
        """
        if not ctx.order_cols:
            # no order key to range-bucket on; fall back to a global sort
            order = [F.monotonically_increasing_id()]
            rn = F.row_number().over(W.orderBy(*order))
            return df.withColumn("__grn", rn), "__grn"
        order = [F.col(c) for c in ctx.order_cols]
        c0 = ctx.order_cols[0]
        dt = df.schema[c0].dataType
        is_ts = isinstance(dt, (T.TimestampType, T.TimestampNTZType))
        key = epoch_us(F.col(c0)) if is_ts else F.col(c0).cast("double")
        parallelism = self.spark.sparkContext.defaultParallelism or 32
        counts = None
        # null order keys sort first (Spark asc default), so they must land
        # in the lowest bucket — never in a null __gbk (which would break
        # the driver-side prefix sum)
        _NULLS_BUCKET = -(2**62)
        if is_ts:
            # timestamp keys: a fixed hour grid needs NO boundary job —
            # counts-per-hour is the single extra pass
            bucket = F.coalesce(
                F.floor(key / F.lit(3_600_000_000)), F.lit(_NULLS_BUCKET)
            )
            bdf = df.withColumn("__gbk", bucket)
            counts = bdf.groupBy("__gbk").agg(F.count(F.lit(1)).alias("c")).collect()
            if len(counts) <= 2:
                counts = None  # sub-hour span: fall through to quantiles
        if counts is None:
            # non-timestamp keys: uniform-width buckets over [min, max] —
            # ANY deterministic monotone bucketing preserves the global
            # order (equal keys share a bucket; concatenation in bucket-id
            # order = key order), so width_bucket's O(1) per-row codegen
            # replaces both earlier shapes (the O(parallelism) CASE chain
            # and the O(B) array-filter scan).  Skewed keys can unbalance
            # uniform widths, but the per-bucket row_number stays correct
            # — only partition balance suffers, same as the hour grid.
            lo_hi = df.select(
                F.min(key.cast("double")).alias("lo"),
                F.max(key.cast("double")).alias("hi"),
            ).collect()[0]
            lo, hi = lo_hi["lo"], lo_hi["hi"]
            if lo is None or hi is None or lo == hi:
                bucket = F.coalesce(
                    F.when(key.isNotNull(), F.lit(0)).cast("long"),
                    F.lit(_NULLS_BUCKET),
                )
            else:
                nb = max(2, parallelism * 4)
                bucket = F.coalesce(
                    F.width_bucket(
                        key.cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(nb)
                    ).cast("long"),
                    F.lit(_NULLS_BUCKET),
                )
            bdf = df.withColumn("__gbk", bucket)
            counts = bdf.groupBy("__gbk").agg(F.count(F.lit(1)).alias("c")).collect()
        offsets: dict[int, int] = {}
        running = 0
        for row in sorted(counts, key=lambda r: (r["__gbk"] is None, r["__gbk"])):
            offsets[row["__gbk"]] = running
            running += row["c"]
        # offsets attach as a DENSE array literal indexed by bucket id —
        # O(1) element_at per row.  Every row's bucket is by construction
        # a key of `offsets` (its own count contributed), so an exact
        # positional lookup suffices; bucket ids are dense integers (hour
        # indices / boundary counts), so the array spans [min, max].  A
        # broadcast-join attach was observed to intermittently mis-bind on
        # first execution (Spark pushed a streamed-side filter onto the
        # tiny build side) and the earlier filter()-scan attach was O(B)
        # lambda evals per row — 5x wall on a 720-hour range, unbounded
        # at 100x — pure O(1) indexing has neither problem.
        nulls_off = offsets.pop(_NULLS_BUCKET, None)
        keys = sorted(offsets)
        span = (keys[-1] - keys[0] + 1) if keys else 0

        def _long_array(vals: list[int]) -> Column:
            # ONE py4j call: F.lit(list) round-trips per ELEMENT (a
            # 7000-bucket sf1 span cost ~3s of socket hops per compile);
            # the SQL literal parses once and constant-folds
            return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")

        if keys and span <= 4_000_000:
            lo = keys[0]
            dense = [0] * span
            for k in keys:
                dense[k - lo] = int(offsets[k])
            oarr = _long_array(dense)
            att = F.element_at(oarr, (F.col("__gbk") - F.lit(lo) + 1).cast("int"))
        elif keys:
            # degenerate span (sparse multi-century keys): predecessor
            # scan fallback, O(B) per row
            karr = _long_array([int(k) for k in keys])
            oarr = _long_array([int(offsets[k]) for k in keys])
            idx = F.size(F.filter(karr, lambda b: b <= F.col("__gbk")))
            att = F.when(idx > 0, F.element_at(oarr, idx)).otherwise(F.lit(0))
        else:
            att = F.lit(0)
        if nulls_off is not None:
            att = F.when(
                F.col("__gbk") == F.lit(_NULLS_BUCKET), F.lit(int(nulls_off))
            ).otherwise(att)
        bdf = bdf.withColumn("__goff", att)
        rn = F.row_number().over(W.partitionBy("__gbk").orderBy(*order)) + F.col("__goff")
        return bdf.withColumn("__grn", rn).drop("__gbk", "__goff"), "__grn"

    def _state_window(self, df: DataFrame, w: WindowSpec, ctx: TranslateCtx):
        """STATEWINDOW batch emulation (reference: window_v2_op.go:124-247).

        Dual condition STATEWINDOW(begin, emit[, partition...]): a window
        opens at the first row satisfying `begin` after the previous emit,
        accumulates rows, and closes at (and includes) the row satisfying
        `emit`; a `begin` while open is ignored, unclosed windows never
        emit.  Single condition STATEWINDOW(cond): consecutive runs of
        cond-true rows (gaps-and-islands).

        Construction (identically expressible in ANSI SQL for the oracle):
        segment id = running count of emit rows *excluding* the current row
        (so each emit row closes its own segment); within a segment, rows
        from the first begin-row onward are in the window; segments without
        an emit row are dropped.
        """
        conds = w.state_conds
        order = [F.col(c) for c in ctx.order_cols] or [F.monotonically_increasing_id()]
        part_names = []
        for i, p in enumerate(conds[2:]):
            df, name = self._dim_col(df, p, i, ctx, prefix="__spart")
            part_names.append(name)
        parts = [F.col(n) for n in part_names] or [F.lit(0)]
        wp = W.partitionBy(*parts).orderBy(*order)
        if len(conds) == 1:
            cond = self._expr(conds[0], ctx).cast("int")
            flip = F.when(
                F.lag(cond).over(wp).isNull() | (F.lag(cond).over(wp) != cond), 1
            ).otherwise(0)
            df = df.withColumn("__island", F.sum(flip).over(wp.rowsBetween(W.unboundedPreceding, 0)))
            df = df.withColumn("__cond", cond).filter(F.col("__cond") == 1).drop("__cond")
            ctx.window_col = None
            return df, part_names + ["__island"]
        begin = self._expr(conds[0], ctx).cast("int")
        emit = self._expr(conds[1], ctx).cast("int")
        df = df.withColumn("__b", begin).withColumn("__e", emit)
        cum_e = F.sum("__e").over(wp.rowsBetween(W.unboundedPreceding, 0))
        pos = F.row_number().over(wp)
        df = df.withColumn("__seg", cum_e - F.col("__e")).withColumn("__pos", pos)
        wseg = W.partitionBy(*parts, F.col("__seg"))
        first_b = F.min(F.when(F.col("__b") == 1, F.col("__pos"))).over(wseg)
        has_emit = F.max("__e").over(wseg)
        df = (
            df.withColumn("__first_b", first_b)
            .withColumn("__has_emit", has_emit)
            .filter(
                F.col("__first_b").isNotNull()
                & (F.col("__pos") >= F.col("__first_b"))
                & (F.col("__has_emit") == 1)
            )
        )
        ctx.window_col = None
        return df, part_names + ["__seg"]

    def _dur(self, w: WindowSpec, idx: int) -> str:
        secs = w.args[idx] * UNIT_SECONDS[w.unit]
        if w.unit == "ms":
            return f"{w.args[idx]} milliseconds"
        return f"{int(secs)} seconds"

    # ------------------------------------------------------------------ #
    # projection
    # ------------------------------------------------------------------ #
    def _field_name(self, f: Field, stmt: Optional[SelectStatement] = None) -> str:
        if f.alias:
            return f.alias
        e = f.expr
        if isinstance(e, ColumnRef):
            return e.name
        if isinstance(e, FuncCall):
            return e.name
        if stmt is None:
            stmt = getattr(self, "_cur_stmt", None)
        if stmt is not None:
            # reference default name for an unaliased non-column,
            # non-function expression: kuiper_field_<n>, where n counts
            # only the UNNAMED fields (parser.go:494-497 increments p.f
            # per default-named field, not per field)
            n = 0
            for g in stmt.fields:
                if g is f:
                    break
                if not g.alias and not isinstance(g.expr, (ColumnRef, FuncCall)):
                    n += 1
            return f"kuiper_field_{n}"
        return "expr"

    def _project(self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx) -> DataFrame:
        self._cur_df = df
        if (
            stmt.limit is not None
            and not stmt.order
            and not self.streaming
            and any(
                isinstance(f.expr, FuncCall) and f.expr.name in fregistry.SRF
                for f in stmt.fields
            )
        ):
            # LIMIT with an SRF routes to ProjectSet, which caps the
            # collection's ROWS at LimitCount BEFORE expansion and the
            # expanded output after (projectset_operator.go:54-71,
            # planner.go:897 keeps LIMIT off ProjectOp when an SRF is
            # present) — so LIMIT n can emit FEWER than n rows when an
            # early row under-expands (an empty array contributes zero).
            df = df.limit(stmt.limit)
            self._cur_df = df
        if "__jerr" in df.columns:
            # an upstream operator (join/HAVING under SendError) marked
            # rows as error emissions: data fields null out, the message
            # rides an `error` column (rule emission contract, the same
            # shape _compile_send_error produces)
            err = F.col("__jerr")
            prs = self._projection_pairs(df, stmt, ctx)
            out = df.select(
                *[F.when(err.isNull(), c).alias(n) for c, n in prs],
                err.alias("error"),
            )
            if self.on_error == "omit":
                out = out.filter(F.col("error").isNull()).drop("error")
            return out
        try:
            cols = self._projection_cols(df, stmt, ctx)
            if ctx.srf_err is not None:
                cols = cols + [ctx.srf_err.alias("__srf_err")]
            out = df.select(*cols)
        except _SRFTypeError as e:
            # reference SendError mode: the failing event emits an error
            # message row instead of data (rule_test.go TestSingleSQLRule24)
            return df.select(F.lit(str(e)).alias("error"))
        if ctx.srf_err is not None:
            # per-row SRF runtime error: the error message replaces the
            # data (SendError emission shape)
            err = F.col("__srf_err")
            out = out.select(
                *[
                    F.when(err.isNull(), F.col(f"`{c}`")).alias(c)
                    for c in out.columns
                    if c != "__srf_err"
                ],
                err.alias("error"),
            )
            ctx.srf_err = None
        # unaliased unnest over a struct array flattens the struct into
        # top-level columns (funcs_srf.go:26-51: unnest emits the map's
        # entries as row fields)
        for f in stmt.fields:
            if (
                isinstance(f.expr, FuncCall)
                and f.expr.name in fregistry.SRF
                and f.alias is None
            ):
                name = self._field_name(f)
                from pyspark.sql import types as T

                if isinstance(out.schema[name].dataType, T.StructType):
                    # the unnest mapping COVERS same-named source columns
                    # (rule_test.go:451 TestSingleSQLRule19: `unnest(arr2),a`
                    # emits the struct's a, not the source a)
                    shadowed = {sf.name for sf in out.schema[name].dataType.fields}
                    others = [c for c in out.columns if c != name and c not in shadowed]
                    out = out.select(*others, f"{name}.*")
        return out

    def _projection_cols(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx
    ) -> list[Column]:
        return [c for c, _ in self._projection_pairs(df, stmt, ctx)]

    def _project_staged(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx, extra=None
    ) -> DataFrame:
        """Two-stage projection for per-event (sliding) output: each field
        materializes via withColumn under a temp name first, so window
        expressions resolve against the INPUT columns — a same-named
        output alias would otherwise trip Spark's lateral-column-alias
        check (UNSUPPORTED_FEATURE.LATERAL_COLUMN_ALIAS_IN_WINDOW) when
        the window expr nests inside a larger expression."""
        pairs = self._projection_pairs(df, stmt, ctx)
        # generator (SRF) fields are TAGGED at construction time
        # (_projection_pairs records their indices) — not sniffed from the
        # Column repr, which would silently mis-batch a future non-explode
        # generator (posexplode_outer/inline/stack) into a shared Project
        gens = set(self._projection_gen_idx)
        items = pairs + list(extra or [])
        tmp: list[tuple[str, str]] = []
        # ONE Project for all non-generator fields (withColumns), not one
        # withColumn per field: Catalyst extracts window expressions per
        # Project, so per-field Projects split same-spec frame aggregates
        # into SEPARATE Sort+Window passes (q_sliding_window ran 3 sorts +
        # 3 window scans over the identical (__slb, ts) spec — guide §2.4,
        # shared partitioning should be established once).  Temp names are
        # fresh, so the lateral-column-alias-in-window hazard the staging
        # exists for cannot trigger.  Generator expressions (explode/SRF)
        # keep their own withColumn — one generator per Project.
        plain: dict[str, Column] = {}
        for i, (c, n) in enumerate(items):
            t = f"__prj{i}"
            tmp.append((t, n))
            if i in gens:
                if plain:
                    df = df.withColumns(plain)
                    plain = {}
                df = df.withColumn(t, c)
            else:
                plain[t] = c
        if plain:
            df = df.withColumns(plain)
        return df.select(*[F.col(t).alias(n) for t, n in tmp])

    def _projection_pairs(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx
    ) -> list[tuple[Column, str]]:
        """(aliased Column, output name) per projected field.

        Generator (SRF) fields record their OUTPUT INDEX in
        ``self._projection_gen_idx`` so _project_staged can give each its
        own Project without inspecting Column reprs."""
        self._projection_gen_idx: set[int] = set()
        out: list[tuple[Column, str]] = []
        for f in stmt.fields:
            if f.invisible:
                continue
            # inside a field's own expression, a reference to the name it
            # aliases means the SOURCE column, not the alias (shadowing)
            ctx.alias_stack = {f.alias.lower()} if f.alias else set()
            if isinstance(f.expr, Wildcard):
                out.extend(self._expand_wildcard(df, f.expr, ctx))
                continue
            if isinstance(f.expr, FuncCall) and f.expr.name in fregistry.SRF:
                name = self._field_name(f)
                if f.expr.name == "extract":
                    # extract(map) emits the entries as row fields
                    # (funcs_srf.go:38-51) — one output row per input row.
                    # Static-schema analog: a struct column, flattened by
                    # _project.  object_construct with literal keys builds
                    # the struct directly (map types cannot flatten
                    # statically).
                    arg = f.expr.args[0]
                    if (
                        isinstance(arg, FuncCall)
                        and arg.name == "object_construct"
                        and all(self._raw(a) is not None for a in arg.args[0::2])
                    ):
                        fields = [
                            self._expr(arg.args[i + 1], ctx).alias(str(self._raw(arg.args[i])))
                            for i in range(0, len(arg.args), 2)
                        ]
                        col = F.struct(*fields)
                    else:
                        col = self._expr(arg, ctx)
                    out.append((col.alias(name), name))
                    continue
                # unnest(arr) -> explode; ProjectSet analog
                # (internal/topo/operator/projectset_operator.go:25-100)
                inner = self._expr(f.expr.args[0], ctx)
                from pyspark.sql import types as T

                try:
                    arg_dt = df.select(inner).schema[0].dataType
                except Exception:
                    arg_dt = None
                if arg_dt is not None and not isinstance(
                    arg_dt, (T.ArrayType, T.MapType)
                ):
                    # runtime type error becomes an error emission, not an
                    # exception (rule_test.go:421 TestSingleSQLRule24 with
                    # SendError; projectset_operator.go validation)
                    raise _SRFTypeError(
                        "the argument for the unnest function should be array"
                    )
                if self.on_error == "emit" and isinstance(arg_dt, T.ArrayType):
                    # a per-ROW nil input is a runtime error under
                    # SendError (projectset_operator.go:128: the nil value
                    # is not an array) — a sentinel 1-element array keeps
                    # the row through the explode and the error masks the
                    # data in _project; default policy drops the row
                    # (explode of null) like every lenient nil here
                    ctx.srf_err = F.when(
                        inner.isNull(),
                        F.lit("the argument for the unnest function should be array"),
                    )
                    base = F.coalesce(
                        inner, F.array(F.lit(None).cast(arg_dt.elementType))
                    )
                    self._projection_gen_idx.add(len(out))
                    out.append((F.explode(base).alias(name), name))
                    continue
                self._projection_gen_idx.add(len(out))
                out.append((F.explode(inner).alias(name), name))
                continue
            if isinstance(f.expr, FuncCall) and f.expr.name == "changed_cols":
                # multi-column analytic: changed_cols(prefix, ignoreNull,
                # col...) expands into one output column per argument,
                # named prefix+colname (funcs_cols.go)
                call = f.expr
                if canon(call) in ctx.cc_stream:
                    # streaming: per-column results precomputed by the
                    # stateful analytic operator
                    for oc, vis in ctx.cc_stream[canon(call)]:
                        out.append((F.col(oc).alias(vis), vis))
                    continue
                prefix = self._raw(call.args[0]) or ""
                w = self._analytic_window(call, ctx)
                ign_cc = bool(self._raw(call.args[1]))
                # a `*` argument expands to every message column
                # (xsql/valuer.go:420-428 flattens the Wildcarder map into
                # per-key args; cols_func_test.go changed_cols("",true,*,c));
                # duplicate output names collapse to ONE column — the
                # reference writes them into a single ResultCols map key
                hidden_cc = {"window", "_metadata"}
                cc_cols: list[tuple[Column, str]] = []
                seen_cc: set[str] = set()
                for a in call.args[2:]:
                    if isinstance(a, Wildcard):
                        expanded: list[tuple[Column, str]] = [
                            (F.col(c), c)
                            for c in df.columns
                            if c not in hidden_cc and not c.startswith("__")
                        ]
                    else:
                        base = a.name if isinstance(a, ColumnRef) else "col"
                        expanded = [(self._expr(a, ctx), base)]
                    for col, base in expanded:
                        name = f"{prefix}{base}"
                        if name in seen_cc:
                            continue
                        seen_cc.add(name)
                        cc_cols.append((col, name))
                for col, name in cc_cols:
                    out.append(
                        (
                            F.when(
                                self._changed_cond(col, ign_cc, w), col
                            ).alias(name),
                            name,
                        )
                    )
                continue
            name = self._field_name(f)
            out.append((self._expr(f.expr, ctx).alias(name), name))
        ctx.alias_stack = set()
        return out

    def _expand_wildcard(
        self, df: DataFrame, w: Wildcard, ctx: TranslateCtx
    ) -> list[tuple[Column, str]]:
        hidden = {"window", "__wid", "__wcount", "__dummy", "_metadata"}
        hidden |= {c for c in df.columns if c.startswith("__")}
        replaces = {name: self._expr(e, ctx) for e, name in w.replaces}
        out = []
        if (
            not w.source
            and len(ctx.source_order) > 1
            and len(set(df.columns)) < len(df.columns)
        ):
            # `*` over a join with colliding column names: the reference
            # merges tuples with the FIRST source winning each name
            # (JoinTuple.ToMap iterates tuples backward, row.go:692-699;
            # TestSingleSQLRule10 expects demo.size over table1.size).
            # Emit each name once, qualified by its first-owning source.
            exc = {x.lower() for x in w.except_cols}
            emitted: set[str] = set()
            for alias in ctx.source_order:
                try:
                    cols = df.select(f"{alias}.*").columns
                except Exception:
                    continue
                for c in cols:
                    if c in hidden or c.lower() in exc or c in emitted:
                        continue
                    emitted.add(c)
                    if c in replaces:
                        out.append((replaces[c].alias(c), c))
                    else:
                        out.append((F.col(f"{alias}.{c}").alias(c), c))
            for c in df.columns:  # non-source computed columns
                if c in hidden or c.lower() in exc or c in emitted:
                    continue
                emitted.add(c)
                out.append(
                    ((replaces[c].alias(c), c) if c in replaces else (F.col(c), c))
                )
            return out
        names = df.select(f"{w.source}.*").columns if w.source else df.columns
        for c in names:
            if c in hidden or c.lower() in {x.lower() for x in w.except_cols}:
                continue
            if c in replaces:
                out.append((replaces[c].alias(c), c))
            elif w.source:
                out.append((F.col(f"{w.source}.{c}"), c))
            elif "." in c:
                # dotted column names need backquote protection from
                # Spark's nested-field parsing
                out.append((F.col(f"`{c}`").alias(c), c))
            else:
                out.append((F.col(c), c))
        return out

    # ------------------------------------------------------------------ #
    # expression translation
    # ------------------------------------------------------------------ #
    def _frame_content_having(
        self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx
    ) -> DataFrame:
        """Unwindowed batch HAVING over the whole-frame collection:
        aggregate the frame to ONE gate row (map-side partial + final,
        no single-task sort), evaluate the condition there — bare column
        refs resolve to the first row's value like the reference's
        collection valuer — and broadcast the 0/1-row verdict back as a
        cross join (keep-all or drop-all, fully parallel).
        having_test.go:36-130: a passing gate emits the whole
        collection, a failing one emits nothing.
        """
        agg_nodes: dict[str, FuncCall] = {}
        for a in self._find_aggs(stmt.having):
            agg_nodes.setdefault(canon(a), a)
        bare: list[str] = []
        for n in self._find_raw_cols(stmt.having):
            if n.name in df.columns and n.name not in bare:
                bare.append(n.name)
        order = [F.col(c) for c in ctx.order_cols if c in df.columns]
        exprs: list[Column] = []
        for i, (k, call) in enumerate(agg_nodes.items()):
            hname = f"__havagg{i}"
            exprs.append(self._agg_expr(call, ctx).alias(hname))
            ctx.agg_map[k] = hname
        for c in bare:
            first = (
                F.min_by(F.col(c), F.struct(*order)) if order else F.first(F.col(c))
            )
            exprs.append(first.alias(c))
        if not exprs:
            exprs = [F.count(F.lit(1)).alias("__havn")]
        gate = df.agg(*exprs)
        ctx.post_agg = True
        ok = gate.filter(self._expr(stmt.having, ctx))
        ctx.post_agg = False
        ctx.agg_map = {}
        return df.crossJoin(
            F.broadcast(ok.select(F.lit(1).alias("__havok")))
        ).drop("__havok")

    def _find_fn_calls(self, node: Node, fname: str) -> list[FuncCall]:
        """All calls of a specific function anywhere in the expression."""
        return [n for n in walk(node) if isinstance(n, FuncCall) and n.name == fname]

    def _find_aggs(self, node: Node) -> list[FuncCall]:
        """Aggregate calls in the expression.  Nested aggs are not allowed,
        so an aggregate's arguments are not entered; nor is an OVER clause
        (row_number sort/partition aggregates are collected on their own
        by the grouped path), only the OVER call's arguments."""
        out: list[FuncCall] = []
        for n in walk(node, lambda m: _is_agg_call(m) or _is_over_call(m)):
            if _is_agg_call(n):
                out.append(n)
            elif _is_over_call(n):
                for a in n.args:
                    out.extend(self._find_aggs(a))
        return out

    def _agg_args_use_window_meta(self, stmt) -> bool:
        """True when any aggregate ARGUMENT (select/having/order) reads the
        window struct (window_start()/window_end()/... inside an agg call)
        — those must resolve pre-agg, so the deferred session-bounds
        construction cannot apply."""
        return any(
            _uses_window_meta(*call.args)
            for root in [*stmt.fields, stmt.having, *stmt.order]
            for call in self._find_aggs(root)
        )

    def _find_raw_cols(self, node: Node) -> list[ColumnRef]:
        """Column refs OUTSIDE aggregate calls (the refs that need the
        first-row-per-group treatment in an aggregated query); agg args
        aggregate, they don't project raw."""
        return [n for n in walk(node, _is_agg_call) if isinstance(n, ColumnRef)]

    def _raw(self, node: Node) -> Any:
        if isinstance(node, Literal):
            return node.value
        if isinstance(node, Unary) and node.op == "-" and isinstance(node.operand, Literal):
            return -node.operand.value
        return None

    def _agg_expr(self, call: FuncCall, ctx: TranslateCtx, over=None) -> Column:
        name = call.name.lower()
        if name == "deduplicate" and ctx.row_cols:
            return self._deduplicate_agg(call, ctx, over=over)
        if name in ("collect", "inc_collect") and ctx.row_cols and call.args and all(
            isinstance(a, Wildcard) for a in call.args
        ):
            # collect(*) collects whole ROWS in event order (funcs_agg.go:144
            # with the * message argument)
            entries = self._ordered_row_entries(ctx, None, over)
            return F.transform(entries, lambda e: e["__zr"])
        if name in ("merge_agg", "inc_merge_agg") and ctx.row_cols and call.args and all(
            isinstance(a, Wildcard) for a in call.args
        ):
            # merge_agg(*) merges the group's row-objects key-by-key with
            # LAST key winning (funcs_agg.go:154, funcs_agg_test.go
            # "concat wildcard").  Typed rows carry every schema field, so
            # the merge is the last row in event order (a later nil
            # overwrites too — Go map assignment keeps the nil).
            entries = self._ordered_row_entries(ctx, None, over)
            return F.element_at(entries, -1)["__zr"]
        args = [a for a in call.args if not isinstance(a, Wildcard)]
        cols = [self._expr(a, ctx) for a in args]
        raw = [self._raw(a) for a in args]
        if name in ("collect", "last_value") and ctx.join_sliding_keys and over is None and cols:
            # batch sliding JOIN: a frame's rows reach the aggregate in no
            # defined order after the membership joins — order them by
            # __rowu, the reference's join scan order (what the streaming
            # chain op iterates), ties by value, so collect/last_value are
            # deterministic
            entries = F.sort_array(
                F.collect_list(F.struct(F.col("__rowu").alias("o"), cols[0].alias("v")))
            )
            if name == "collect" or (len(raw) > 1 and raw[1]):
                # collect skips nulls (collect_list); last_value(c, true)
                # ignores them
                entries = F.filter(entries, lambda e: e["v"].isNotNull())
            if name == "collect":
                return F.transform(entries, lambda e: e["v"])
            return F.try_element_at(entries, F.lit(-1))["v"]
        # NB only plain avg: the reference's inc_avg accumulates float64
        # (funcs_inc_agg.go:105 ToFloat64 CONVERT_ALL; its own test pins
        # inc_avg(1), inc_avg(3) -> 2.0), so it does NOT integer-divide
        if name == "avg" and cols and self._probe_type(cols[0]) in (
            "byte", "short", "integer", "long"
        ):
            # the reference's avg over integer inputs is INTEGER division
            # (funcs_agg.go:56-81: sliceIntTotal / int64(count)).  Spark's
            # avg widens to double, so integral inputs compute truncating
            # division instead: subtracting s % n (Spark's % on longs
            # follows the dividend's sign, like Go) makes the quotient
            # exact before the double division.  The frame spec applies
            # to each PRIMITIVE aggregate — a composite expression has no
            # .over()
            s = F.sum(cols[0])
            n = F.count(cols[0])
            if over is not None:
                s, n = s.over(over), n.over(over)
            s = s.cast("long")
            # decimal division keeps the exactly-divisible quotient exact
            # for the FULL int64 range (a double round-trip loses
            # precision above 2^53)
            exact = (s - s % n).cast("decimal(38,0)")
            return (exact / n.cast("decimal(38,0)")).cast("long")
        base = fregistry.build_aggregate(call.name, cols, raw)
        return base.over(over) if over is not None else base

    def _ordered_row_entries(self, ctx: TranslateCtx, key: Optional[Column], over) -> Column:
        """sort_array(collect_list(struct(order..., [key,] row))) — the
        event-ordered row collection shared by deduplicate and collect(*);
        `over` turns the collection into a frame aggregate (sliding)."""
        row = F.struct(*[F.col(c) for c in ctx.row_cols])
        parts = [
            F.col(c).alias(f"__o{i}") for i, c in enumerate(ctx.order_cols)
        ]
        if key is not None:
            parts.append(key.alias("__zk"))
        parts.append(row.alias("__zr"))
        collected = F.collect_list(F.struct(*parts))
        if over is not None:
            collected = collected.over(over)
        return F.sort_array(collected)

    def _deduplicate_agg(self, call: FuncCall, ctx: TranslateCtx, over=None) -> Column:
        """deduplicate(keyExpr, all) returns whole ROWS, not key values
        (funcs_agg.go:176 -> common_array_funcs.go:249-272):

        - all=true : the rows at the first occurrence of each distinct key,
          in event order -> array<struct<row>>;
        - all=false: ONLY the latest row, and only if its key was unseen in
          the earlier rows, else NULL -> struct<row>.

        Built as one native aggregate: rows collect into a sorted entry
        array (order cols lead the struct so sort_array restores event
        order); first-occurrence filtering runs via nested higher-order
        functions — all JVM-side, group-local (no extra shuffle).  With
        `over`, the collection is a frame aggregate (sliding windows)."""
        key = self._expr(call.args[0], ctx)
        all_flag = self._raw(call.args[1]) if len(call.args) > 1 else True
        entries = self._ordered_row_entries(ctx, key, over)
        if all_flag:
            withidx = F.transform(entries, lambda e, i: F.struct(e.alias("e"), i.alias("i")))
            firsts = F.filter(
                withidx,
                lambda p: ~F.exists(
                    F.slice(entries, F.lit(1), p["i"]),
                    lambda q: q["__zk"] == p["e"]["__zk"],
                ),
            )
            return F.transform(firsts, lambda p: p["e"]["__zr"])
        last = F.element_at(entries, -1)
        prior = F.slice(entries, F.lit(1), F.size(entries) - 1)
        return F.when(
            ~F.exists(prior, lambda q: q["__zk"] == last["__zk"]), last["__zr"]
        )


    def _changed_cond(
        self, col: Column, ignore_null: bool, w, valid: Optional[Column] = None
    ) -> Column:
        """Per-column 'changed vs state' condition (funcs_analytic.go:
        86-110): with ignoreNull the state is the last NON-NULL value and
        null inputs contribute nothing (and never clobber the state);
        without it the state is the previous row's value compared with
        DeepEqual semantics (null equals null).

        ``valid`` is the OVER (WHEN cond) gate: rows failing it emit
        nothing AND never update the state
        (TestChangedColPartitionWithWhen case 3.1: a when-false change is
        nil and the next comparison still sees the old state)."""
        before = w.rowsBetween(W.unboundedPreceding, -1)
        if ignore_null:
            carrier = col if valid is None else F.when(valid, col)
            prev_nn = F.last(carrier, ignorenulls=True).over(before)
            base = col.isNotNull() & ~col.eqNullSafe(prev_nn)
        elif valid is None:
            prev = F.lag(col).over(w)
            base = ~col.eqNullSafe(prev)
        else:
            pstruct = F.last(
                F.when(valid, F.struct(col.alias("v"))), ignorenulls=True
            ).over(before)
            base = F.when(pstruct.isNull(), F.lit(True)).otherwise(
                ~col.eqNullSafe(pstruct["v"])
            )
        return base if valid is None else (valid & base)

    def _analytic_parts_order(self, call: FuncCall, ctx: TranslateCtx):
        part = [self._expr(p, ctx) for p in call.partition_by]
        if not part and ctx.windowfunc_partition:
            # non-aggregated window query: rank within the window collection
            part = [F.col(c) for c in ctx.windowfunc_partition]
        if not part:
            part = [F.lit(1)]
        if call.order_by:
            # explicit OVER (... ORDER BY b [DESC]) sort fields
            # (windowfunc_operator.go:115-127 sorts each partition by
            # SortFields via OrderOp before assigning ranks; OrderOp puts
            # nil keys LAST in both directions)
            order = [
                self._expr(s.expr, ctx).asc_nulls_last() if s.asc
                else self._expr(s.expr, ctx).desc_nulls_last()
                for s in call.order_by
            ]
        else:
            order = [F.col(c) for c in ctx.order_cols] or [
                F.monotonically_increasing_id()
            ]
        return part, order

    def _analytic_window(self, call: FuncCall, ctx: TranslateCtx):
        part, order = self._analytic_parts_order(call, ctx)
        return W.partitionBy(*part).orderBy(*order)

    def _acc_cond_col(
        self, df: DataFrame, call: FuncCall, ctx: TranslateCtx, out_name: str
    ) -> DataFrame:
        """acc_*(value, onBegin, onReset): accumulate only inside
        begin..reset segments (funcs_acc.go:184-211 accFuncWithCond;
        funcs_acc_test.go TestAccumulateAggCond).  Per event: inactive ->
        zero; onBegin starts a segment (inclusive); onReset ends it AFTER
        accumulating its own row.  Two window passes: a shifted reset
        count splits segment regions (resets only affect LATER rows), then
        a cumulative agg gated on begin-seen runs inside each region —
        spurious resets while inactive split only inactive rows, so the
        closure is identical."""
        if df.isStreaming:
            # unreachable through normal routing: streaming statements
            # take _hoist_analytics_streaming (standalone analytic op or
            # fused into the stateful window); defensive guard only
            raise NotImplementedError(
                "begin/reset-conditioned accumulators reached the batch "
                "two-window compiler on a streaming frame — route through "
                "the streaming analytic hoist"
            )
        part, order = self._analytic_parts_order(call, ctx)
        w1 = W.partitionBy(*part).orderBy(*order)
        arg = self._expr(call.args[0], ctx)
        b = self._expr(call.args[1], ctx).cast("boolean")
        r = self._expr(call.args[2], ctx).cast("boolean")
        if call.when is not None:
            arg = F.when(self._expr(call.when, ctx), arg)
        rcnt = F.count(F.when(r, F.lit(1))).over(
            w1.rowsBetween(W.unboundedPreceding, -1)
        )
        rcol = f"{out_name}_r"
        df = df.withColumn(rcol, F.coalesce(rcnt, F.lit(0)))
        w2 = (
            W.partitionBy(*part, F.col(rcol))
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        active = F.count(F.when(b, F.lit(1))).over(w2) > 0
        gated = F.when(active, arg)
        if call.name == "acc_count":
            out = F.when(active, F.count(gated).over(w2)).otherwise(
                F.lit(0).cast("bigint")
            )
        else:
            base = {
                "acc_sum": F.sum, "acc_avg": F.avg,
                "acc_max": F.max, "acc_min": F.min,
            }[call.name]
            out = F.when(
                active, F.coalesce(base(gated.cast("double")).over(w2), F.lit(0.0))
            ).otherwise(F.lit(0.0))
        return df.withColumn(out_name, out).drop(rcol)

    def _sliding_buckets(self, df: DataFrame, w, ctx: TranslateCtx) -> DataFrame:
        """Scale path for UNKEYED sliding windows: partition the per-event
        range frame by a coarse time bucket instead of one global sort.

        Bucket span B = 16 * (length + delay); rows within `length` of the
        next bucket's start are replicated into it (and, with delay, rows
        within `delay` of a bucket's start into the previous one) as
        non-emitting shadows, so every row's frame (t-length, t+delay] is
        complete inside its own bucket.  Cost: one extra union branch over
        the boundary strips (~2/16 of rows); win: the sort parallelizes
        across time_range/B partitions instead of serializing globally.
        """
        length_us = int(w.args[0] * UNIT_SECONDS[w.unit] * 1_000_000)
        delay_us = (
            int(w.args[1] * UNIT_SECONDS[w.unit] * 1_000_000)
            if len(w.args) > 1
            else 0
        )
        span = length_us + delay_us
        e = (
            (self._event_ref(ctx) * 1000)
            if ctx.event_is_long
            else epoch_us(self._event_ref(ctx))
        )
        # adaptive bucket width: 16*span is the low-duplication default,
        # but when the data's time range is short relative to it (e.g. an
        # hour-long frame over a two-day table) that caps parallelism at
        # range/16span sort partitions.  Clamp to [span, 16*span] targeting
        # ~4 buckets per core; bucket >= span keeps the one-neighbor
        # shadow construction valid, and bucket == span bounds duplication
        # at 2x.  The min/max probe is one column-pruned agg — trivial
        # next to the sort it parallelizes.
        par = self.spark.sparkContext.defaultParallelism or 32
        lo_hi = df.select(
            F.min(e).alias("lo"), F.max(e).alias("hi")
        ).collect()[0]
        if lo_hi["lo"] is None:
            bucket_us = 16 * span
        else:
            rng = int(lo_hi["hi"]) - int(lo_hi["lo"])
            bucket_us = min(16 * span, max(span, rng // (4 * par) or span))
        b = F.floor(e / bucket_us)
        # one scan: each row explodes into its home bucket plus (when in a
        # boundary strip) shadow assignments for the neighbor bucket
        branches = [
            F.struct(b.alias("b"), F.lit(False).alias("sh")),
            # feeds the NEXT bucket's backward-looking frames
            F.when(
                e >= (b + 1) * bucket_us - length_us,
                F.struct((b + 1).alias("b"), F.lit(True).alias("sh")),
            ),
        ]
        if delay_us:
            # feeds the PREVIOUS bucket's forward-looking frames
            branches.append(
                F.when(
                    e < b * bucket_us + delay_us,
                    F.struct((b - 1).alias("b"), F.lit(True).alias("sh")),
                )
            )
        df = (
            df.withColumn("__sla", F.explode(F.array_compact(F.array(*branches))))
            .withColumn("__slb", F.col("__sla.b"))
            .withColumn("__shadow", F.col("__sla.sh"))
            .drop("__sla")
        )
        # explicit repartition: the per-bucket sort is CPU-bound, but its
        # shuffle is byte-small, so AQE would coalesce the bucket exchange
        # down to a few tasks; a user-specified partition count is exempt
        # from coalescing and the Window's clustered-distribution
        # requirement is already satisfied (no second exchange)
        df = df.repartition(par, F.col("__slb"))
        ctx.sliding_parts = [F.col("__slb")]
        return df

    def _sliding_frame_spec(self, ctx: TranslateCtx):
        w: WindowSpec = ctx.sliding_frame
        length = w.args[0] * UNIT_SECONDS[w.unit]
        delay = (w.args[1] * UNIT_SECONDS[w.unit]) if len(w.args) > 1 else 0
        # exact integer-microsecond ordering (ties/boundaries deterministic)
        if ctx.sliding_us_col is not None:
            # pre-materialized key column (frame-first path): one shared
            # attribute lets every same-spec Sort dedup
            order = F.col(ctx.sliding_us_col)
        elif ctx.event_is_long:
            order = self._event_ref(ctx) * 1000  # epoch ms -> micros
        else:
            order = epoch_us(self._event_ref(ctx))
        if not ctx.sliding_parts:
            import warnings

            warnings.warn(
                "unkeyed SLIDINGWINDOW uses one global sort partition "
                "(reference semantics); at scale add GROUP BY key to "
                "partition the frame.",
                UserWarning,
                stacklevel=4,
            )
        spec = (
            W.partitionBy(*ctx.sliding_parts) if ctx.sliding_parts else W.partitionBy(F.lit(1))
        )
        # GROUP BY dims partition the per-event frame (keyed sliding
        # windows are the 100 TB path: per-key sort instead of one global
        # partition)
        # frame [t-length, t] (delay: [t-length, t+delay)): the reference
        # scan keeps ts >= left (handleInputs window_op.go:641-647 discards
        # only left.After(ts)) and is right-INCLUSIVE without delay but
        # right-EXCLUSIVE with one (isTimeRelatedWindow window_op.go:571-573
        # + the ts<right meet rule; TestSlidingWindowInterval11/12 pin both
        # boundaries).  Integer-microsecond grid: upper = delay-1µs.
        d_us = int(delay * 1_000_000)
        return spec.orderBy(order).rangeBetween(
            -int(length * 1_000_000), d_us - 1 if d_us else 0
        )

    def _expr(self, node: Node, ctx: TranslateCtx) -> Column:
        if ctx.post_agg and canon(node) in ctx.dim_map:
            # any expression that structurally equals a GROUP BY dim resolves
            # to the materialized group column after aggregation
            return F.col(ctx.dim_map[canon(node)])

        if ctx.frame_first and isinstance(node, ColumnRef) and canon(node) in ctx.frame_first:
            # aggregated sliding window: a raw column projects the FIRST
            # frame row's value (reference project-over-grouped semantics
            # — the window content's first tuple, window order = event
            # order; same rule TestWindowRule8 pins for tumbling)
            return ctx.frame_first[canon(node)]

        if isinstance(node, Literal):
            return F.lit(node.value)

        if isinstance(node, ColumnRef):
            if ctx.flat_col_map:
                # post-stateful-join flat output: qualified refs resolve
                # through the side map (alias scopes no longer exist)
                k = (
                    f"{node.source.lower()}.{node.name.lower()}"
                    if node.source
                    else node.name.lower()
                )
                if k in ctx.flat_col_map:
                    return F.col(ctx.flat_col_map[k])
            if node.source is not None:
                if node.source.lower() in ctx.source_aliases:
                    return F.col(f"{node.source}.{node.name}")
                # not a source alias: struct/map access on column `source`
                return F.col(node.source)[node.name]
            # select-alias inlining (ekuiper alias chains).  An alias that
            # shadows a source column (`size + 1 AS size`) resolves to the
            # SOURCE column inside its own defining expression and to the
            # alias everywhere else (analyzer.go topo-sort semantics,
            # TestChanged13: `size+1 as size, size+1 as b` -> b = size+2).
            key = node.name.lower()
            tgt = ctx.aliases.get(key)
            if (
                tgt is not None
                and key not in ctx.alias_stack
                and not (isinstance(tgt, ColumnRef) and tgt.source is None and tgt.name.lower() == key)
            ):
                ctx.alias_stack.add(key)
                try:
                    return self._expr(tgt, ctx)
                finally:
                    ctx.alias_stack.discard(key)
            if (
                len(ctx.source_order) > 1
                and self._cur_df is not None
                and sum(1 for c in self._cur_df.columns if c == node.name) > 1
            ):
                # unqualified ref over a join where BOTH sides own the
                # name: the reference merges tuples with FIRST-source
                # precedence (JoinTuple.ToMap iterates backward,
                # row.go:692-699) — resolve via the first owning source
                # instead of letting Spark raise AMBIGUOUS_REFERENCE
                for alias in ctx.source_order:
                    try:
                        if node.name in self._cur_df.select(f"{alias}.*").columns:
                            return F.col(f"{alias}.{node.name}")
                    except Exception:
                        continue
            if "." in node.name:
                # backquoted identifier with dots (`a.b.c`, project_test.go
                # :632): protect from Spark's nested-field parsing
                return F.col(f"`{node.name}`")
            return F.col(node.name)

        if isinstance(node, Binary):
            return self._binary(node, ctx)

        if isinstance(node, Unary):
            if node.op == "NOT":
                return ~self._expr(node.operand, ctx)
            return -self._expr(node.operand, ctx)

        if isinstance(node, FuncCall):
            return self._func(node, ctx)

        if isinstance(node, CaseWhen):
            chain = None
            for cond, val in node.whens:
                c = (
                    (self._expr(node.operand, ctx) == self._expr(cond, ctx))
                    if node.operand is not None
                    else self._expr(cond, ctx)
                )
                v = self._expr(val, ctx)
                chain = F.when(c, v) if chain is None else chain.when(c, v)
            if node.else_ is not None:
                chain = chain.otherwise(self._expr(node.else_, ctx))
            return chain

        if isinstance(node, InExpr):
            # Go membership semantics (filter_test.go:160-300): a nil LHS
            # is nil for BOTH forms (row drops); a nil SET is false for IN
            # and true for NOT IN; nil elements inside the set never
            # poison the result (they just don't match) — unlike ANSI
            # three-valued NOT IN
            col = self._expr(node.expr, ctx)
            if node.set_expr is not None:
                sset = self._expr(node.set_expr, ctx)
                res = (
                    F.when(col.isNull(), F.lit(None).cast("boolean"))
                    .when(sset.isNull(), F.lit(False))
                    .otherwise(F.coalesce(F.array_contains(sset, col), F.lit(False)))
                )
            else:
                matched = None
                for i in node.items:
                    eq = col.eqNullSafe(self._expr(i, ctx))
                    matched = eq if matched is None else (matched | eq)
                res = F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(
                    matched
                )
            return ~res if node.negated else res

        if isinstance(node, Between):
            col = self._expr(node.expr, ctx)
            res = (col >= self._expr(node.lo, ctx)) & (col <= self._expr(node.hi, ctx))
            return ~res if node.negated else res

        if isinstance(node, Like):
            col = self._expr(node.expr, ctx)
            pat = node.pattern.value if isinstance(node.pattern, Literal) else None
            if pat is None:
                raise ValueError("LIKE requires a literal pattern")
            res = col.like(pat)
            return ~res if node.negated else res

        if isinstance(node, Index):
            base = self._expr(node.expr, ctx)
            raw = self._raw(node.index)
            if isinstance(raw, str):
                return base[raw]
            idx = self._expr(node.index, ctx)
            one_based = F.when(idx >= 0, idx + 1).otherwise(idx)
            # out-of-range indexing yields nil, not an ANSI error (the
            # reference's valuer returns nil for a missing element —
            # TestWindowErrorRule4's empty collect(size) group drops
            # silently on the nil compare)
            return F.try_element_at(base, one_based.cast("int"))

        if isinstance(node, Slice):
            base = self._expr(node.expr, ctx)
            lo = self._expr(node.lo, ctx).cast("int") if node.lo is not None else F.lit(0)
            if node.hi is not None:
                length = self._expr(node.hi, ctx).cast("int") - lo
            else:
                length = F.size(base) - lo
            return F.slice(base, lo + 1, length)

        if isinstance(node, Access):
            return self._expr(node.expr, ctx)[node.fieldname]

        if isinstance(node, JsonPath):
            return F.get_json_object(self._expr(node.expr, ctx), node.path)

        if isinstance(node, Wildcard):
            # `*` in expression position — changed_col(true, *) compares
            # and emits the ENTIRE message as one value (misc_func_test.go
            # TestChangedFuncs_Apply1 case 1: the Wildcarder map).  The
            # typed analog is a struct of every visible column.
            exc = {x.lower() for x in node.except_cols}
            cols = [c for c in ctx.row_cols if c.lower() not in exc]
            if not cols:
                raise TypeError("wildcard expression with no visible columns")
            return F.struct(*[F.col(c).alias(c) for c in cols])

        raise TypeError(f"cannot translate node {node!r}")

    def _binary(self, node: Binary, ctx: TranslateCtx) -> Column:
        # agg-call rewriting happens in _func; dims are handled here
        if ctx.post_agg and canon(node) in ctx.dim_map:
            return F.col(ctx.dim_map[canon(node)])
        left = self._expr(node.left, ctx)
        right = self._expr(node.right, ctx)
        op = node.op
        if self.on_error in ("emit", "omit") and op not in ("AND", "OR"):
            if "variant" in (self._probe_type(left), self._probe_type(right)):
                return self._dyn_binary(node, left, right, ctx)
        if self.on_error == "null" and op in ("+", "-", "*", "/", "%"):
            fn = {
                "+": F.try_add,
                "-": F.try_subtract,
                "*": F.try_multiply,
                "/": F.try_divide,
                "%": F.try_mod,
            }[op]
            # try_* stops overflow, but the implicit string->number cast of
            # a type-flipped schemaless column still throws under ANSI;
            # try_cast makes unparseable operands null (the reference does
            # float64 arithmetic on JSON values, so double matches)
            return fn(left.try_cast("double"), right.try_cast("double"))
        if self.on_error == "null" and op in ("<", "<=", ">", ">=", "=", "!="):
            # comparison against a numeric literal: try-coerce the other
            # side, so a type-flipped value compares as null (row drops)
            # instead of throwing CAST_INVALID_INPUT
            def _is_num_lit(n: Node) -> bool:
                return (
                    isinstance(n, Literal)
                    and isinstance(n.value, (int, float))
                    and not isinstance(n.value, bool)
                )

            if _is_num_lit(node.right) != _is_num_lit(node.left):
                lit_node = node.right if _is_num_lit(node.right) else node.left
                # integer literals coerce through decimal(38,9): exact for
                # the full int64 range (a double cast silently loses
                # precision above 2^53) while still parsing numeric strings
                target = (
                    "decimal(38,9)"
                    if isinstance(lit_node.value, int)
                    else "double"
                )
                left = left.try_cast(target)
                right = right.try_cast(target)
        if op == "+":
            return left + right
        if op == "-":
            return left - right
        if op == "*":
            return left * right
        if op == "/":
            ints = ("byte", "short", "integer", "long")
            if (
                self._probe_type(left) in ints
                and self._probe_type(right) in ints
            ):
                # the reference's int/int division is Go INTEGER division
                # truncating toward zero (valuer.go:953-984;
                # IntegerFloatDivision exists but is never set anywhere).
                # TestLagPartition pins it: changeRate = 6/2 = int64(3).
                # Exact for the full int64 range: subtract the Go-sign
                # remainder, then divide the exact multiple in decimal.
                q = left - (left % right)
                return (
                    q.cast("decimal(38,0)") / right.cast("decimal(38,0)")
                ).cast("long")
            return left / right
        if op == "%":
            return left % right
        if op == "=":
            return left == right
        if op == "!=":
            return left != right
        if op == "<":
            return left < right
        if op == "<=":
            return left <= right
        if op == ">":
            return left > right
        if op == ">=":
            return left >= right
        if op == "AND":
            return left & right
        if op == "OR":
            return left | right
        if op == "&":
            return left.bitwiseAND(right)
        if op == "|":
            return left.bitwiseOR(right)
        if op == "^":
            return left.bitwiseXOR(right)
        raise ValueError(f"unknown operator {op}")

    # ------------------------------------------------------------------ #
    # dynamic (schemaless VARIANT) operators — SendError semantics
    # ------------------------------------------------------------------ #
    def _variant_side(self, col: Column, ty: Optional[str]):
        """(go_kind, str_val, double_val, long_val) for one operand.

        go_kind mirrors the reference's runtime type names as printed in
        its error text (valuer.go invalid-operation messages): int64,
        float64, string, bool; null/missing values have a null kind."""
        if ty == "variant":
            k = F.schema_of_variant(col)
            gok = (
                F.when(k.isNull() | (k == "VOID"), F.lit(None).cast("string"))
                .when(k.isin("BIGINT", "INT", "SMALLINT", "TINYINT"), F.lit("int64"))
                .when(k.startswith("DECIMAL") | k.isin("DOUBLE", "FLOAT"), F.lit("float64"))
                .when(k == "STRING", F.lit("string"))
                .when(k == "BOOLEAN", F.lit("bool"))
                .otherwise(F.lower(k))
            )
            return gok, col.try_cast("string"), col.try_cast("double"), col.try_cast("long")
        base = {
            "long": "int64", "integer": "int64", "short": "int64", "byte": "int64",
            "double": "float64", "float": "float64", "decimal": "float64",
            "string": "string", "boolean": "bool",
        }.get(ty or "", ty or "?")
        gok = F.when(col.isNull(), F.lit(None).cast("string")).otherwise(F.lit(base))
        return gok, col.cast("string"), col.try_cast("double"), col.try_cast("long")

    def _dyn_binary(self, node: Binary, left: Column, right: Column, ctx: TranslateCtx) -> Column:
        """Binary op over dynamically-typed (VARIANT) operands.

        The reference evaluates ops on runtime types and turns a kind
        mismatch into an error VALUE that the rule emits as a message row
        (valuer.go; rule_test.go TestSingleSQLError).  Here: numeric kinds
        interoperate (int64/int64 keeps Go integer semantics, any float64
        widens), strings compare with strings, and a mismatch records a
        per-row message on ctx.dyn_errs while the value goes null."""
        op = node.op
        lg, ls, ld, ll = self._variant_side(left, self._probe_type(left))
        rg, rs, rd, rl = self._variant_side(right, self._probe_type(right))
        lnum = lg.isin("int64", "float64")
        rnum = rg.isin("int64", "float64")
        missing = lg.isNull() | rg.isNull()
        if op in ("+", "-", "*", "/", "%"):
            ok = lnum & rnum
            both_int = (lg == "int64") & (rg == "int64")
            if op == "/":
                q = ll - (ll % rl)
                ival = (q.cast("decimal(38,0)") / rl.cast("decimal(38,0)")).cast("long")
            else:
                ival = {"+": ll + rl, "-": ll - rl, "*": ll * rl, "%": ll % rl}[op]
            dval = {"+": ld + rd, "-": ld - rd, "*": ld * rd, "/": ld / rd, "%": ld % rd}[op]
            val = (
                F.when(missing | ~ok, F.lit(None).cast("variant"))
                .when(both_int, ival.cast("variant"))
                .otherwise(dval.cast("variant"))
            )
        else:
            ok = (lnum & rnum) | ((lg == "string") & (rg == "string")) | (
                (lg == "bool") & (rg == "bool")
            )
            num_cmp = {
                "=": ld == rd, "!=": ld != rd, "<": ld < rd,
                "<=": ld <= rd, ">": ld > rd, ">=": ld >= rd,
            }[op]
            str_cmp = {
                "=": ls == rs, "!=": ls != rs, "<": ls < rs,
                "<=": ls <= rs, ">": ls > rs, ">=": ls >= rs,
            }[op]
            val = (
                F.when(missing | ~ok, F.lit(None).cast("boolean"))
                .when(lnum & rnum, num_cmp)
                .otherwise(str_cmp)
            )
        err = F.when(
            missing | ok, F.lit(None).cast("string")
        ).otherwise(
            F.format_string(
                "invalid operation %s(%s) " + op + " %s(%s)", lg, ls, rg, rs
            )
        )
        ctx.dyn_errs.append(err)
        return val

    def _go_expr_str(self, node: Node, src: str) -> str:
        """The reference's Expr.String() rendering used in runtime error
        messages (e.g. `binaryExpr:{ ldemo.size * 5 }`, ast/expr.go)."""
        if isinstance(node, Binary):
            return (
                "binaryExpr:{ "
                + self._go_expr_str(node.left, src)
                + f" {node.op} "
                + self._go_expr_str(node.right, src)
                + " }"
            )
        if isinstance(node, ColumnRef):
            return f"{src}.{node.name}"
        if isinstance(node, Literal):
            v = node.value
            return str(v).lower() if isinstance(v, bool) else str(v)
        if isinstance(node, FuncCall):
            return f"Call:{{ name:{node.name} }}"
        return str(node)

    def _compile_send_error(self, df: DataFrame, stmt: SelectStatement, ctx: TranslateCtx) -> DataFrame:
        """Simple-statement path under the reference's SendError contract:
        a runtime type error in WHERE or SELECT becomes an `error` message
        emission in place of the data row (rule_test.go TestSingleSQLError,
        SendError=true) or is silently dropped (TestSingleSQLOmitError,
        SendError=false => on_error='omit')."""
        werr = F.lit(None).cast("string")
        if stmt.where is not None:
            ctx.dyn_errs = []
            pred = self._expr(stmt.where, ctx)
            if ctx.dyn_errs:
                werr = F.concat(F.lit("run Where error: "), F.coalesce(*ctx.dyn_errs)) \
                    if len(ctx.dyn_errs) > 1 else F.concat(
                        F.lit("run Where error: "), ctx.dyn_errs[0])
            df = df.withColumn("__werr", werr)
            # an erroring filter emits the error; otherwise the predicate
            # decides (null/missing compares drop silently, no error)
            df = df.filter(
                F.col("__werr").isNotNull() | F.coalesce(pred, F.lit(False))
            )
        else:
            df = df.withColumn("__werr", werr)
        pairs: list[tuple[Column, str]] = []
        ferrs: list[Column] = []
        for f in stmt.fields:
            if f.invisible:
                continue
            if isinstance(f.expr, Wildcard):
                ctx.alias_stack = set()
                pairs.extend(self._expand_wildcard(df, f.expr, ctx))
                continue
            ctx.alias_stack = {f.alias.lower()} if f.alias else set()
            ctx.dyn_errs = []
            name = self._field_name(f, stmt)
            col = self._expr(f.expr, ctx)
            if ctx.dyn_errs:
                prefix = "run Select error: " + (
                    f"alias: {f.alias} " if f.alias else ""
                )
                msg = F.concat(
                    F.lit(prefix + "expr: " + self._go_expr_str(f.expr, stmt.source)
                          + " meet error, err:"),
                    F.coalesce(*ctx.dyn_errs) if len(ctx.dyn_errs) > 1 else ctx.dyn_errs[0],
                )
                ferrs.append(msg)
            pairs.append((col, name))
        total_ferr = (
            (F.coalesce(*ferrs) if len(ferrs) > 1 else ferrs[0])
            if ferrs
            else F.lit(None).cast("string")
        )
        window = stmt.group.window if stmt.group else None
        if window is not None:
            # windowed SendError (window_rule_test.go TestWindowErrorRule1/2):
            # a WHERE error bypasses the window entirely — the window op's
            # ingest broadcasts error values straight through
            # (event_window_trigger.go:227-232) — while a Select error
            # POISONS its window: ProjectOp stops at the first erroring row
            # of the collection and the whole window emits that ONE error
            # message instead of content.  Windows whose rows all filter
            # away emit nothing here (batch cannot carry the reference's
            # live empty-tick emissions).
            ec = ctx.event_col
            length_ms = int(window.args[0] * UNIT_SECONDS[window.unit] * 1000)
            ord_c = (
                F.col(ec).try_cast("long") if ec in df.columns else None
            )
            if ord_c is None:
                raise NotImplementedError(
                    "windowed SendError requires an event-time column"
                )
            df = (
                df.withColumn("__ord", ord_c)
                .withColumn("__mid", F.monotonically_increasing_id())
                .withColumn("__ferr", total_ferr)
            )
            df = df.withColumn(
                "__wid",
                F.when(
                    F.col("__werr").isNull(), F.floor(F.col("__ord") / length_ms)
                ),
            )
            wspec = W.partitionBy("__wid")
            first_err = F.min(
                F.when(
                    F.col("__ferr").isNotNull() & F.col("__werr").isNull(),
                    F.struct(
                        F.col("__ord").alias("o"),
                        F.col("__mid").alias("m"),
                        F.col("__ferr").alias("e"),
                    ),
                )
            ).over(wspec)
            # ORDER BY over dynamic values validates runtime kinds while
            # sorting the window collection (sorter.go:132-165: the first
            # non-nil value fixes the expected kind, numeric kinds
            # interoperate, any other mix aborts the sort) — an aborted
            # sort poisons the window BEFORE projection (OrderOp precedes
            # ProjectOp), so it outranks Select errors
            # (TestWindowErrorRule5).
            order_bad = None
            for s in stmt.order or []:
                oc = self._expr(s.expr, ctx)
                if self._probe_type(oc) != "variant":
                    continue
                kind = self._variant_side(oc, "variant")[0]
                fk = F.min(
                    F.when(
                        kind.isNotNull() & F.col("__werr").isNull(),
                        F.struct(
                            F.col("__ord").alias("o"),
                            F.col("__mid").alias("m"),
                            kind.alias("k"),
                        ),
                    )
                ).over(wspec)
                numeric = ("int64", "float64", "uint64", "int")
                compat = (fk["k"].isin(*numeric) & kind.isin(*numeric)) | (
                    fk["k"] == kind
                )
                # rows before the kind-fixing row pass (types[j] unset)
                before_first = F.struct(
                    F.col("__ord").alias("o"), F.col("__mid").alias("m")
                ) < F.struct(fk["o"].alias("o"), fk["m"].alias("m"))
                bad = (
                    kind.isNotNull()
                    & F.col("__werr").isNull()
                    & fk.isNotNull()
                    & ~before_first
                    & ~compat
                )
                msg = F.concat(
                    F.lit(
                        "run Order By error: incompatible types for "
                        "comparison: "
                    ),
                    fk["k"],
                    F.lit(" and "),
                    kind,
                )
                this_bad = F.when(bad, msg)
                order_bad = (
                    this_bad if order_bad is None
                    else F.coalesce(order_bad, this_bad)
                )
            if order_bad is not None:
                # materialize first (order_bad nests a window expression —
                # Spark rejects window-in-window aggregates)
                df = df.withColumn("__obad", order_bad)
                first_obad = F.min(
                    F.when(
                        F.col("__obad").isNotNull(),
                        F.struct(
                            F.col("__ord").alias("o"),
                            F.col("__mid").alias("m"),
                            F.col("__obad").alias("e"),
                        ),
                    )
                ).over(wspec)
                win_err = F.coalesce(first_obad, first_err)
            else:
                win_err = first_err
            df = df.withColumn(
                "__we", F.when(F.col("__wid").isNotNull(), win_err)
            ).drop("__obad")
            keep = (
                F.col("__werr").isNotNull()
                | F.col("__we").isNull()
                | (
                    (F.col("__we.o") == F.col("__ord"))
                    & (F.col("__we.m") == F.col("__mid"))
                )
            )
            df = df.filter(keep)
            total_err = F.coalesce(F.col("__werr"), F.col("__we.e"))
        else:
            total_err = F.coalesce(F.col("__werr"), total_ferr)
        out = df.select(
            *[F.when(total_err.isNull(), c).alias(n) for c, n in pairs],
            total_err.alias("error"),
        )
        if self.on_error == "omit":
            out = out.filter(F.col("error").isNull()).drop("error")
        return out

    def _file_metadata_col(self, key: str | None) -> Column:
        """Spark's hidden _metadata struct exists only for file-scan
        sources; for register_df/memory sources absent metadata is NIL
        like the reference's meta() (funcs_misc.go:489 returns the raw
        metadata value, nil when the source attached none) — not an
        UNRESOLVED_COLUMN analysis error."""
        try:
            if self._cur_df is not None:
                self._cur_df.select("_metadata")
                return F.col("_metadata" if key is None else f"_metadata.{key}")
        except Exception:
            pass
        return F.lit(None).cast("string")

    def _func(self, call: FuncCall, ctx: TranslateCtx) -> Column:
        name = call.name

        if canon(call) in ctx.analytic_map:
            return F.col(ctx.analytic_map[canon(call)])

        if ctx.post_agg and canon(call) in ctx.agg_map:
            return F.col(ctx.agg_map[canon(call)])

        if ctx.sliding_frame is not None and fregistry.is_aggregate(name):
            # sliding window: aggregate over a range frame per event
            # (deduplicate/collect(*) embed the frame inside their row
            # collection rather than wrapping the outer expression)
            return self._agg_expr(call, ctx, over=self._sliding_frame_spec(ctx))

        if name in fregistry.WINDOW_META:
            if ctx.window_col:
                # window_trigger = the window's firing time; for event-time
                # windows that is the window end (xsql/collection.go:608)
                fieldname = "start" if name == "window_start" else "end"
                col = F.col(f"{ctx.window_col}.{fieldname}")
                if ctx.window_bounds_ms:
                    # long (epoch-ms) event time: window bounds return ms
                    # like the reference (WindowRange int64 fields)
                    col = F.unix_millis(col)
                return col
            raise ValueError(f"{name}() outside a time window")

        if name == "event_time":
            # the tuple's event timestamp (funcs_datetime.go); after a
            # window aggregation the emission's event time is the window
            # end (ctx.event_col is rebound there)
            if ctx.event_col is None:
                raise ValueError("event_time() needs an event-time column")
            col = F.col(ctx.event_col)
            if ctx.post_agg and ctx.window_bounds_ms and ctx.window_col:
                col = F.unix_millis(col)
            return col

        if name == "mqtt":
            # mqtt(topic|messageid) metadata (funcs_misc.go:451-474); the
            # file-source analog of topic is the source file path, and
            # file messages carry no broker message id
            key = call.args[0].name.lower() if isinstance(call.args[0], ColumnRef) else str(self._raw(call.args[0])).lower()
            if key == "topic":
                return self._file_metadata_col("file_path")
            if key == "messageid":
                return F.lit(None).cast("string")
            raise ValueError("mqtt() takes topic or messageid")

        if name == "meta":
            # meta(key): per-row source metadata (funcs_misc.go:489;
            # rule_test.go TestSingleSQLRule5/6 expect meta(topic) = the
            # stream's topic).  topic resolves to the stream's registered
            # topic option or DATASOURCE path — the mqtt/mock analog —
            # falling back to the file scan's path; other keys read
            # Spark's hidden _metadata struct; unknown keys are nil.
            key = None
            if call.args:
                a0 = call.args[0]
                key = a0.name.lower() if isinstance(a0, ColumnRef) else str(
                    self._raw(a0) or ""
                ).lower()
            if not key:
                return self._file_metadata_col(None)
            if key == "topic":
                d = self.catalog.get(self._cur_stmt.source) if self._cur_stmt else None
                topic = (d.options or {}).get("topic") if d else None
                topic = topic or (d.path if d else None)
                if topic:
                    return F.lit(str(topic))
                return self._file_metadata_col("file_path")
            if key in ("file_path", "file_name", "file_size", "file_modification_time"):
                return self._file_metadata_col(key)
            return F.lit(None).cast("string")

        if name in ("rule_id", "rule_start", "props"):
            if name == "rule_id":
                return F.lit(self.rule_ctx.get("rule_id", "rule_0"))
            if name == "rule_start":
                return F.lit(self.rule_ctx.get("rule_start")).cast("bigint")
            key = self._raw(call.args[0]) if call.args else None
            val = (self.rule_ctx.get("props") or {}).get(key)
            return F.lit(None if val is None else str(val))

        if name == "row_number":
            if canon(call) in ctx.rank_const1:
                # per-dim capped sessions: one group per emitted window,
                # so the group rank is constant 1 (batch parity)
                return F.lit(1)
            if canon(call) in ctx.winfunc_map:
                # streaming stateful window: rank already computed inside
                # the stateful operator (see _stream_window_ranks)
                return F.col(ctx.winfunc_map[canon(call)])
            if ctx.post_agg and ctx.grprank_col:
                # streaming chained-agg group rank (formation order),
                # already materialized
                return F.col(ctx.grprank_col)
            if ctx.post_agg and ctx.grpord_col:
                # GROUP BY dims: rank the GROUPS within each window
                # collection (rowNumberFuncHandle over a GroupedTuplesSet;
                # WindowFuncPlan > AggregatePlan, planner.go:807-833) —
                # formation order by default, OVER sort fields on the
                # group row, nil keys last in both directions
                part = [F.col(c) for c in ctx.grprank_partition] + [
                    self._expr(p, ctx) for p in call.partition_by
                ]
                if not part:
                    part = [F.lit(1)]
                if call.order_by:
                    # formation-order tiebreaker: OrderOp's stable sort
                    # keeps equal-key groups in GroupedTuplesSet order
                    order = [
                        self._expr(s.expr, ctx).asc_nulls_last() if s.asc
                        else self._expr(s.expr, ctx).desc_nulls_last()
                        for s in call.order_by
                    ] + [F.col(ctx.grpord_col)]
                else:
                    order = [F.col(ctx.grpord_col)]
                return F.row_number().over(W.partitionBy(*part).orderBy(*order))
            if not call.partition_by and not ctx.windowfunc_partition:
                # no window: every event is its own collection, so the rank
                # is always 1 (rule_test.go:79 TestRowNumber1)
                return F.lit(1)
            part, order = self._analytic_parts_order(call, ctx)
            if call.partition_by and ctx.windowfunc_partition:
                # OVER (PARTITION BY a) inside a window collection ranks
                # within (window, a) — the window stays the outer
                # collection boundary (windowfunc_operator.go:85-92), so
                # the window key cols prefix the explicit partition
                part = [F.col(c) for c in ctx.windowfunc_partition] + part
            return F.row_number().over(W.partitionBy(*part).orderBy(*order))

        if name in self._HIT_FNS:
            # rule-trigger bookkeeping (funcs_global_state.go): count/time
            # of prior emissions.  Batch analog: position in the emission
            # sequence.  In WHERE/HAVING, the sequence is rows passing the
            # plain conjuncts (ctx.hit_col); in SELECT, the post-filter
            # rows.  The agg variants run post-aggregation, ordered by
            # window start, with emission time = window end.
            order = [F.col(c) for c in ctx.order_cols] or [F.monotonically_increasing_id()]
            if name.endswith("count"):
                if ctx.hit_col:
                    return F.col(ctx.hit_col) - 1
                return F.row_number().over(W.orderBy(*order)) - 1
            ec = ctx.event_col
            if ec is None:
                raise ValueError(f"{name}() needs an event-time column / time window")
            col = F.col(ec)
            as_ms = ctx.post_agg and ctx.window_bounds_ms and ctx.window_col
            if as_ms:
                # post-agg emission time is the window end (a timestamp);
                # the reference reports hit times as epoch millis
                col = F.unix_millis(col)
            prev = F.lag(col).over(W.orderBy(*order))
            if ctx.event_is_long or as_ms:
                # reference returns the Go zero value 0 before any emission
                # (funcs_global_state.go), not null
                prev = F.coalesce(prev, F.lit(0))
            return prev

        if name.startswith("acc_"):
            # accumulating aggregates: running totals across rows/windows,
            # keyed by the OVER partition (funcs_acc.go:93+).  Batch analog:
            # cumulative frame.  OVER (WHEN cond) accumulates only on
            # cond-true rows (rule_test.go TestAccAggSql2-6) — the nulls
            # that F.when leaves behind are skipped by every aggregate.
            base = {
                "acc_sum": F.sum,
                "acc_avg": F.avg,
                "acc_count": lambda c: F.count(c),
                "acc_max": F.max,
                "acc_min": F.min,
            }.get(name)
            if base is None:
                raise KeyError(f"unknown accumulator {name}")
            w = self._analytic_window(call, ctx).rowsBetween(W.unboundedPreceding, W.currentRow)
            arg = self._expr(call.args[0], ctx)
            if call.when is not None:
                arg = F.when(self._expr(call.when, ctx), arg)
            if name == "acc_count":
                # int64 state starting at 0 (funcs_acc.go:222-247)
                return F.count(arg).over(w)
            # the accumulator state is float64 regardless of input type, and
            # reads 0.0 before the first valid row (funcs_acc.go:26-92
            # `case nil: return float64(0)`; accSumFunc widens int/int64)
            return F.coalesce(base(arg.cast("double")).over(w), F.lit(0.0))

        if name in fregistry.ANALYTIC:
            w = self._analytic_window(call, ctx)
            args = call.args
            if name == "lag":
                col = self._expr(args[0], ctx)
                n = int(self._raw(args[1])) if len(args) > 1 else 1
                default = self._raw(args[2]) if len(args) > 2 else None
                # 4th arg ignoreNull defaults TRUE (funcs_analytic.go:
                # 151-157): null inputs neither enter the ring queue nor
                # advance it, so lag counts NON-NULL predecessors
                ign = bool(self._raw(args[3])) if len(args) > 3 else True
                if call.when is not None:
                    # lag OVER (WHEN cond): the ring only advances on
                    # cond-true rows; INVALID rows still read the state
                    # (TestLagExecWithWhen: (bar,false) after (foo,true)
                    # reads "foo"), so every row emits the n-th last
                    # valid value among rows strictly before it
                    cond = self._expr(call.when, ctx)
                    before = w.rowsBetween(W.unboundedPreceding, -1)
                    if n == 1 and ign:
                        prior = F.last(
                            F.when(cond, col), ignorenulls=True
                        ).over(before)
                    else:
                        gate = (cond & col.isNotNull()) if ign else cond
                        arr = F.collect_list(
                            F.when(gate, F.struct(col.alias("v")))
                        ).over(before)
                        prior = F.when(
                            F.size(arr) >= n, F.element_at(arr, -n)["v"]
                        )
                    return F.coalesce(prior, F.lit(default)) if default is not None else prior
                if ign:
                    before = w.rowsBetween(W.unboundedPreceding, -1)
                    if n == 1:
                        prior = F.last(col, ignorenulls=True).over(before)
                    else:
                        arr = F.collect_list(col).over(before)  # skips nulls
                        prior = F.when(F.size(arr) >= n, F.element_at(arr, -n))
                    return (
                        F.coalesce(prior, F.lit(default))
                        if default is not None
                        else prior
                    )
                return F.lag(col, n, default).over(w)
            if name == "latest":
                # latest(col[, default]) — last non-null value, optional
                # default before any state exists; OVER (WHEN cond) gates
                # state updates (funcs_analytic.go:208-240: nil inputs and
                # invalid rows read the state instead of updating it)
                col = self._expr(args[0], ctx)
                if call.when is not None:
                    col = F.when(self._expr(call.when, ctx), col)
                out = F.last(col, ignorenulls=True).over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                if len(args) > 1:
                    out = F.coalesce(out, self._expr(args[1], ctx))
                return out
            if name == "changed_col":
                # value if changed since the per-column STATE else null
                # (funcs_analytic.go:31-71); the ignoreNull flag decides
                # whether nulls update the state or are skipped entirely
                ign = bool(self._raw(args[0]))
                col = self._expr(args[1], ctx)
                valid = (
                    self._expr(call.when, ctx) if call.when is not None else None
                )
                return F.when(self._changed_cond(col, ign, w, valid), col)
            if name == "had_changed":
                # per-column state comparison with DeepEqual null
                # semantics (funcs_analytic.go:86-110;
                # TestHadChangedExec case 6/7: an ignored null neither
                # counts as a change nor clobbers the column's state);
                # when-false rows read false and keep the state
                ign = bool(self._raw(args[0]))
                valid = (
                    self._expr(call.when, ctx) if call.when is not None else None
                )
                conds = [
                    self._changed_cond(self._expr(a, ctx), ign, w, valid)
                    for a in args[1:]
                ]
                out = conds[0]
                for c in conds[1:]:
                    out = out | c
                return out

        if fregistry.is_aggregate(name) and not ctx.post_agg:
            # aggregate in a non-grouped context (global agg handled by
            # _grouped; here = inside grouped projection, already mapped)
            return self._agg_expr(call, ctx)

        args = [a for a in call.args if not isinstance(a, Wildcard)]
        cols = [self._expr(a, ctx) for a in args]
        raw = [self._raw(a) for a in args]
        if name.lower() == "length" and cols:
            # the reference's length() is polymorphic over strings, arrays
            # and maps (funcs_array_test.go:76-81 length([1,2,3]) = 3);
            # resolve by a compile-time schema probe (no job runs)
            if self._probe_type(cols[0]) in ("array", "map"):
                return F.size(cols[0])
        # (to_json's encode-any-value semantics live in the registry
        # builder now: a one-field-struct envelope handles scalars AND
        # containers uniformly, keeps null fields, and returns nil for a
        # nil input per returnNilIfHasAnyNil)
        if (
            name.lower() == "object_pick"
            and len(cols) >= 2
            and any(isinstance(r, str) and "." in r for r in raw[1:])
            and all(isinstance(r, str) for r in raw[1:])
        ):
            # dotted nested paths need literal keys + the map's full type
            dt = self._probe_dtype(cols[0])
            if isinstance(dt, T.MapType):
                return self._object_pick_nested(cols[0], list(raw[1:]), dt)
        if (
            name.lower() in ("object_pick", "erase")
            and len(cols) == 2
            and self._probe_type(cols[1]) == "array"
        ):
            # the reference's second argument is {string arr} OR
            # {string}... (funcs_obj.go:256 "The argument can be {obj},
            # {string arr} OR {obj}, {string}..."); the registry builder
            # handles the vararg form, the array form dispatches here on
            # a schema probe
            if name.lower() == "object_pick":
                return F.map_filter(
                    cols[0], lambda k, v: F.array_contains(cols[1], k)
                )
            return F.map_filter(
                cols[0], lambda k, v: ~F.array_contains(cols[1], k)
            )
        if (
            name.lower()
            in ("json_path_query", "json_path_query_first", "json_path_exists")
            and len(cols) == 2
            and isinstance(raw[1], str)
        ):
            return self._json_path(name.lower(), cols[0], raw[1], ctx)
        if (
            name.lower() == "cast"
            and cols
            and len(raw) > 1
            and str(raw[1] or "").lower() == "bytea"
            and self._probe_type(cols[0]) == "string"
        ):
            # cast(string, 'bytea') base64-DECODES (cast.go contract,
            # funcs_misc_test.go:542-560: "Ynl0ZWE=" -> b"bytea");
            # binary input stays a passthrough via the registry
            return F.unbase64(cols[0])
        if (
            name.lower() == "cast"
            and cols
            and len(raw) > 1
            and str(raw[1] or "").lower() == "datetime"
            and self._probe_type(cols[0])
            in ("long", "integer", "double", "float", "short", "byte")
        ):
            # numeric -> datetime is epoch MILLISECONDS, floats truncated
            # (cast/time.go InterfaceToTime -> TimeFromUnixMilli;
            # misc_func_test.go cast(a*1000,"datetime") on 1.62e12);
            # a bare Spark cast would read numerics as SECONDS
            return F.timestamp_millis(cols[0].cast("long"))
        return fregistry.build_scalar(name, cols, raw)

    def _has_row_error_calls(self, stmt: SelectStatement) -> bool:
        """True when the statement contains calls whose typed inputs can
        error PER ROW in the reference (json_path_query/_query_first on a
        nil document)."""
        return any(
            isinstance(n, FuncCall)
            and n.name.lower() in ("json_path_query", "json_path_query_first")
            for root in [*stmt.fields, stmt.where]
            for n in walk(root)
        )

    def _json_path(self, name: str, col: Column, path: str, ctx: TranslateCtx = None) -> Column:
        """json_path_query / _query_first / _exists with the reference's
        gval jsonpath semantics (internal/conf/jsonpath_eval.go;
        funcs_misc.go:527-575): the input may be a typed container OR a
        JSON string; wildcards/filters collect an array of matches;
        query_first takes result[0] of an array result; exists maps
        errors and nil to false and arrays to len>0.

        Under SendError a NULL input document emits the reference's
        per-row error "invalid data nil for jsonpath"
        (misc_func_test.go:819-840) through the same error channel the
        VARIANT operators use — on typed frames too (round 8; was a
        declared divergence).  With the default fail/ignore policy a
        NULL document stays lenient-null (exists -> false).

        Typed containers compile to NATIVE Catalyst ops (getField /
        element_at / F.filter / F.transform); member/index-only paths on
        strings use get_json_object; wildcard/filter paths on strings run
        the same evaluator as an Arrow-batched UDF (the data is as opaque
        to Catalyst as it is to the reference's interpreter)."""
        from ekuiper_spark.functions import jsonpath as jp

        segs = jp.parse_path(path)
        dt = self._probe_dtype(col)
        if (
            ctx is not None
            and self.on_error in ("emit", "omit")
            and name in ("json_path_query", "json_path_query_first")
        ):
            # typed nil documents error PER ROW in the reference
            # (jsonpath_eval.go: "invalid data nil for jsonpath";
            # misc_func_test.go:819-840 pins the emitted text) — route
            # through the SendError channel like the VARIANT operators
            ctx.dyn_errs.append(
                F.when(
                    col.isNull(),
                    F.lit(
                        f"call func {name} error: invalid data nil for jsonpath"
                    ),
                )
            )
        if isinstance(dt, (T.StructType, T.MapType, T.ArrayType)):
            try:
                out, rdt, collected = jp.compile_typed(col, dt, segs)
            except jp.JsonPathStaticError:
                # gval unknown-key error: exists -> false, query -> nil
                # (error-as-value; funcs_misc.go:553-560)
                return F.lit(False) if name == "json_path_exists" else F.lit(None)
            if name == "json_path_query":
                return out
            if name == "json_path_query_first":
                if collected or isinstance(rdt, T.ArrayType):
                    return F.element_at(out, 1)
                # "query result (%v) is not an array" — statically known
                # for every row of a typed frame, so fail the compile
                raise ValueError(
                    f"json_path_query_first: query result of {path!r} "
                    "is not an array"
                )
            if collected or isinstance(rdt, T.ArrayType):
                return F.coalesce(F.size(out) > 0, F.lit(False))
            return out.isNotNull()
        if isinstance(dt, T.VariantType):
            sp = jp.string_path(segs)
            if sp is not None:
                tvg = F.try_variant_get(col, sp, "variant")
                if name == "json_path_query":
                    return tvg
                if name == "json_path_query_first":
                    return F.try_variant_get(col, sp + "[0]", "variant")
                head = F.try_variant_get(col, sp + "[0]", "variant")
                return F.coalesce(
                    F.when(
                        F.schema_of_variant(tvg).startswith("ARRAY"),
                        head.isNotNull(),
                    ).otherwise(tvg.isNotNull()),
                    F.lit(False),
                )
            col = F.to_json(col)
        # JSON string input
        sp = jp.string_path(segs)
        if sp is not None:
            if name == "json_path_query":
                return F.get_json_object(col, sp)
            if name == "json_path_query_first":
                # result[0] of an array result; a scalar result yields nil
                # here where the reference raises per-row (error-as-value)
                return F.get_json_object(col, sp + "[0]")
            gjo = F.get_json_object(col, sp)
            # a selected EMPTY array exists=false (len>0 rule); JSON null
            # selects as SQL null -> false
            return F.coalesce(
                gjo.isNotNull() & (gjo != F.lit("[]")) & (gjo != F.lit("null")),
                F.lit(False),
            )
        # wildcard/filter over an opaque JSON string: Arrow-batched UDF
        from pyspark.sql.functions import pandas_udf

        if name == "json_path_exists":
            fn = pandas_udf(
                lambda s: s.map(lambda t: jp.eval_path_json(t, segs, "exists")),
                "boolean",
            )
            return fn(col)
        mode = "first" if name == "json_path_query_first" else "query"
        fn = pandas_udf(
            lambda s: s.map(lambda t: jp.eval_path_json(t, segs, mode)),
            "string",
        )
        # dynamic result shape -> VARIANT (the engine's dynamic-value type)
        return F.parse_json(fn(col))

    @staticmethod
    def _probe_df(df: DataFrame, col: Column) -> DataFrame:
        """Probe-safe df: expressions may reference engine-internal
        ``__``-columns (e.g. the ``__slb`` sliding sort bucket) that are
        attached AFTER the typing probe runs; letting the analyzer throw
        UNRESOLVED_COLUMN works but emits an ERROR-level
        DataFrameQueryContextLogger line per probe (JVM-side, uncatchable
        from Python).  Pre-attach dummy literals for any missing internal
        names instead — analysis-only, never executed."""
        import re as _re

        missing = set(_re.findall(r"__\w+", str(col))) - set(df.columns)
        if missing:
            df = df.withColumns({m: F.lit(0) for m in sorted(missing)})
        return df

    def _probe_type(self, col: Column) -> Optional[str]:
        """Analysis-only type probe of one expression against the current
        phase's DataFrame; None when indeterminable (falls back to the
        registry's default builder)."""
        df = getattr(self, "_cur_df", None)
        if df is None:
            return None
        try:
            return self._probe_df(df, col).select(col).schema[0].dataType.typeName()
        except Exception:
            return None

    def _probe_dtype(self, col: Column) -> Optional[T.DataType]:
        """Full DataType probe (same mechanism as _probe_type)."""
        df = getattr(self, "_cur_df", None)
        if df is None:
            return None
        try:
            return self._probe_df(df, col).select(col).schema[0].dataType
        except Exception:
            return None

    @staticmethod
    def _object_pick_nested(obj: Column, keys: list[str], dt: T.MapType) -> Column:
        """object_pick with DOTTED nested paths on typed map columns
        (funcs_obj.go:319-348 pick): 'k1.temp' navigates nested maps and
        rebuilds the nested result shape ({k1: {temp: v}}); a segment
        that is missing or not a map skips that key (reference warns and
        skips).  Keys sharing a prefix merge into one submap."""

        def build(o: Column, mt: T.MapType, seglists: list[list[str]]) -> Column:
            groups: dict[str, list[list[str]]] = {}
            for segs in seglists:
                groups.setdefault(segs[0], []).append(segs[1:])
            entries = []
            for head, rests in groups.items():
                terminal = any(len(r) == 0 for r in rests)
                deeper = [r for r in rests if r]
                if terminal:
                    # whole-value pick wins over a sibling nested pick of
                    # the same head (reference's res[k] overwrite order)
                    cond = F.map_contains_key(o, F.lit(head))
                    val = o.getItem(head)
                elif isinstance(mt.valueType, T.MapType):
                    sub = build(o.getItem(head), mt.valueType, deeper)
                    cond = F.map_contains_key(o, F.lit(head)) & (F.size(sub) > 0)
                    val = sub
                else:
                    continue  # cannot navigate a non-map value: skip
                entries.append(
                    F.when(
                        cond,
                        F.struct(F.lit(head).alias("key"), val.alias("value")),
                    )
                )
            if not entries:
                return F.map_from_entries(
                    F.expr("array()").cast(
                        T.ArrayType(
                            T.StructType([
                                T.StructField("key", T.StringType()),
                                T.StructField("value", mt.valueType),
                            ])
                        )
                    )
                )
            return F.map_from_entries(
                F.filter(F.array(*entries), lambda s: s.isNotNull())
            )

        out = build(obj, dt, [k.split(".") for k in keys])
        return F.when(obj.isNull(), F.lit(None)).otherwise(out)


def compile_sql(
    spark: SparkSession,
    sql: str,
    catalog: Catalog,
    streaming: bool = False,
    order_cols: Optional[list[str]] = None,
    event_col: Optional[str] = None,
    watermark: Optional[str] = None,
    on_error: str = "fail",
    rule_ctx: Optional[dict] = None,
) -> DataFrame:
    """Compile one ekuiper-dialect SQL statement to a DataFrame."""
    stmt = parse_sql(sql)
    t = Translator(
        spark,
        catalog,
        streaming=streaming,
        order_cols=order_cols,
        event_col=event_col,
        watermark=watermark,
        on_error=on_error,
        rule_ctx=rule_ctx,
    )
    return t.compile(stmt)

"""Reference-format logical-plan EXPLAIN text.

The reference's /rules/{id}/explain renders the LOGICAL plan as one
`{"op":"XxxPlan_N","info":"..."}` line per operator with a cumulative
tab indent (planner.go:344 ExplainFromLogicalPlan; per-plan
BuildExplainInfo in internal/topo/planner/*.go).  This module rebuilds
that text from the parsed statement — the Catalyst physical plan is a
different (richer) artifact served alongside it.

Covered shapes mirror plan_explain_test.go:31-107: project / window
funcs (row_number) / having / aggregate dims / join / count window /
incremental-agg windows (the planner's EnableIncrementalWindow rewrite,
engaged exactly when this engine's native inc_* rewrite applies: window
+ aggregates in SELECT, no joins).  Statements outside the covered
shapes render best-effort with the same op vocabulary.
"""

from __future__ import annotations

from typing import Any, Optional

from ekuiper_spark.ast_nodes import (
    Binary,
    ColumnRef,
    Field,
    FuncCall,
    Literal,
    Node,
    SelectStatement,
    Unary,
    Wildcard,
    children,
    walk,
)

_AGGS = {"count", "sum", "avg", "min", "max"}
_WINDOW_FUNCS = {"row_number"}

_WTYPE = {
    "count": "COUNT_WINDOW",
    "tumbling": "TUMBLING_WINDOW",
    "hopping": "HOPPING_WINDOW",
    "sliding": "SLIDING_WINDOW",
    "session": "SESSION_WINDOW",
}
_JTYPE = {
    "inner": "INNER_JOIN",
    "left": "LEFT_JOIN",
    "right": "RIGHT_JOIN",
    "full": "FULL_JOIN",
    "cross": "CROSS_JOIN",
}


def _expr_str(n: Any, src: str, repl: Optional[dict] = None) -> str:
    """ast Expr.String() (pkg/ast/expr.go) for the covered node kinds;
    `repl` maps canonical call text -> replacement (bypass refs)."""
    if isinstance(n, Wildcard):
        return "*"
    if isinstance(n, ColumnRef):
        s = n.source or src
        return f"{s}.{n.name}"
    if isinstance(n, Literal):
        v = n.value
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, str):
            return v
        if isinstance(v, float) and v == int(v):
            return str(int(v))
        return str(v)
    if isinstance(n, Unary):
        return f"{n.op}{_expr_str(n.operand, src, repl)}"
    if isinstance(n, Binary):
        return (
            "binaryExpr:{ "
            + _expr_str(n.left, src, repl)
            + f" {n.op} "
            + _expr_str(n.right, src, repl)
            + " }"
        )
    if isinstance(n, FuncCall):
        plain = _call_str(n, src, repl)
        if repl and plain in repl:
            return repl[plain]
        return plain
    return str(n)


def _call_str(n: FuncCall, src: str, repl: Optional[dict] = None) -> str:
    inner = f"name:{n.name}"
    if n.args:
        args = ", ".join(_expr_str(a, src, repl) for a in n.args)
        inner += f", args:[{args}]"
    w = getattr(n, "when", None)
    if w is not None:
        # OVER (WHEN cond) renders inside the Call braces
        # (explainInfo_test.go AnalyticFuncsPlan_1)
        inner += ", when:{ " + _expr_str(w, src, repl) + " }"
    return f"Call:{{ {inner} }}"


_ANALYTIC_FNS = {"lag", "latest", "changed_col", "had_changed"}


def _collect_analytic(n: Node, out: list, seen: set, src: str) -> None:
    """POST-order analytic-call collection (decorateStmt registers inner
    calls before their enclosing call — AnalyticFuncsPlan_0 lists
    lag(name) before latest(lag(name)))."""
    for c in children(n):
        _collect_analytic(c, out, seen, src)
    if isinstance(n, FuncCall) and n.name.lower() in _ANALYTIC_FNS:
        key = _call_str(n, src)
        if key not in seen:
            seen.add(key)
            out.append(n)


def _walk_calls(nodes: list, pred) -> list[FuncCall]:
    return [
        x for n in nodes for x in walk(n) if isinstance(x, FuncCall) and pred(x)
    ]


def _used_columns(stmt: SelectStatement) -> Optional[set[str]]:
    """Column names the statement references, None when a wildcard (or
    count(*)-style call) forces all fields (DataSourcePlan pruning)."""
    group = stmt.group
    roots = [*stmt.fields, stmt.where, stmt.having, *[j.on for j in stmt.joins]]
    if group:
        roots += group.dims
        if group.window is not None:
            roots.append(group.window.filter)
    used: set[str] = set()
    for root in roots:
        for x in walk(root):
            if isinstance(x, Wildcard):
                return None
            if isinstance(x, ColumnRef):
                used.add(x.name)
    return used


def explain_statement(
    stmt: SelectStatement, catalog=None, is_event_time: bool = False
) -> str:
    """ExplainFromLogicalPlan text for the parsed statement.
    ``is_event_time`` mirrors def.RuleOption.IsEventTime: event-time
    rules plan a WatermarkPlan above the sources (planner.go:640-648)."""
    src = stmt.source_alias or stmt.source
    window = stmt.group.window if stmt.group else None
    dims = [d for d in (stmt.group.dims or [])] if stmt.group else []
    field_aggs = _walk_calls(stmt.fields, lambda c: c.name.lower() in _AGGS)
    inc = bool(window is not None and field_aggs and not stmt.joins)

    # --- window-func + inc-agg rewrites (planner fieldsMap) ---------------
    repl: dict[str, str] = {}
    wf_fields: list[str] = []
    n_wf = 0
    for c in _walk_calls(stmt.fields, lambda c: c.name.lower() in _WINDOW_FUNCS):
        n_wf += 1
        name = f"wf_{c.name.lower()}_{n_wf}"
        repl[_call_str(c, src)] = f"Call:{{ name:bypass, args:[{name}] }}"
        wf_fields.append(
            f"windowFuncField:{{name:{name}, expr:{_call_str(c, src)}}}"
        )
    inc_funcs: list[str] = []
    repl_having = dict(repl)
    n_inc = 0
    if inc:
        # select-field aggs and HAVING aggs each get their OWN inc column
        # (the planner does not dedup across clauses — plan_explain_test
        # case `SELECT *,count(*) ... HAVING count(*) > 1` shows col_1 in
        # the projection and col_2 in the having)
        for c in field_aggs:
            n_inc += 1
            col = f"inc_agg_col_{n_inc}"
            inc_call = FuncCall(name=f"inc_{c.name.lower()}", args=list(c.args))
            inc_funcs.append(f"{_call_str(inc_call, src)}->{col}")
            repl[_call_str(c, src)] = (
                f"Call:{{ name:bypass, args:[$$default.{col}] }}"
            )
        for c in _walk_calls([stmt.having], lambda c: c.name.lower() in _AGGS):
            n_inc += 1
            col = f"inc_agg_col_{n_inc}"
            inc_call = FuncCall(name=f"inc_{c.name.lower()}", args=list(c.args))
            inc_funcs.append(f"{_call_str(inc_call, src)}->{col}")
            repl_having[_call_str(c, src)] = (
                f"Call:{{ name:bypass, args:[$$default.{col}] }}"
            )
    else:
        repl_having = repl

    # --- plan chain, top-down ---------------------------------------------
    ops: list[tuple[str, str]] = []

    # ProjectPlan: alias fields first (planner hoists aliases), then rest
    parts: list[str] = []
    for f in [x for x in stmt.fields if x.alias] + [x for x in stmt.fields if not x.alias]:
        if f.invisible:
            continue
        e = _expr_str(f.expr, src, repl)
        parts.append(f"$$alias.{f.alias},aliasRef:{e}" if f.alias else e)
    # SRF fields plan a ProjectSetPlan ABOVE the projection
    # (planner.go:949; explainInfo_test.go ProjectSetPlan_0 format)
    srf_keys = []
    for f2 in stmt.fields:
        e2 = f2.expr
        if isinstance(e2, FuncCall) and e2.name.lower() in ("unnest",):
            srf_keys.append(f2.alias or e2.name.lower())
    proj_op = ("ProjectPlan", f"Fields:[ {', '.join(parts)} ]" if parts else "")
    if srf_keys:
        ops.append(
            ("ProjectSetPlan",
             "SrfMap:{" + ", ".join(f"key:{k}" for k in srf_keys)
             + "}, EnableLimit:false")
        )
    ops.append(proj_op)

    if stmt.order:
        # OrderPlan sits below the projection (planner.go:835-842;
        # explainInfo_test.go:874-906 sortField format)
        sparts = []
        for s0 in stmt.order:
            nm = s0.expr.name if isinstance(s0.expr, ColumnRef) else _expr_str(s0.expr, src)
            sparts.append(
                "sortField:{ name:" + str(nm)
                + ", ascending:" + str(bool(s0.asc)).lower()
                + ", fieldExpr:{ " + _expr_str(s0.expr, src) + " } }"
            )
        ops.append(("OrderPlan", f"SortFields:[ {', '.join(sparts)} ]"))

    for wf in wf_fields:
        ops.append(("WindowFuncPlan", wf))

    if stmt.having is not None:
        ops.append(
            ("HavingPlan",
             "Condition:{ " + _expr_str(stmt.having, src, repl_having) + " }, ")
        )

    if dims and not inc:
        ops.append(
            ("AggregatePlan",
             "Dimension:{ " + ", ".join(_expr_str(d, src) for d in dims) + " }")
        )

    if stmt.where is not None:
        ops.append(
            ("FilterPlan", "Condition:{ " + _expr_str(stmt.where, src) + " }, ")
        )

    # join planning mirrors createLogicalPlanFull (planner.go:730-790):
    # lookup tables get LookupPlans ABOVE the JoinPlan (no DataSource
    # child); scan tables align under a JoinAlignPlan BELOW it
    lookup_joins, scan_joins, stream_joins = [], [], []
    for j in stmt.joins or []:
        d = catalog.get(j.source) if catalog is not None else None
        kind = (getattr(d, "kind", None) or "stream").lower()
        if kind == "lookup":
            lookup_joins.append(j)
        elif kind in ("table", "scan"):
            scan_joins.append(j)
        else:
            stream_joins.append(j)
    for j in reversed(lookup_joins):  # built bottom-up: last lookup topmost
        ops.append(
            ("LookupPlan",
             "Join:{ joinType:" + _JTYPE.get(j.kind, j.kind.upper())
             + ", expr:" + (_expr_str(j.on, src) if j.on is not None else "")
             + " }")
        )
    if stream_joins or scan_joins:
        joins = ", ".join(
            "{ joinType:" + _JTYPE.get(j.kind, j.kind.upper()) + ", "
            + (_expr_str(j.on, src) if j.on is not None else "")
            + " }"
            for j in stream_joins + scan_joins
        )
        ops.append(("JoinPlan", f"Joins:[ {joins} ]"))
        if scan_joins:
            ops.append(
                ("JoinAlignPlan",
                 "Emitters:[ " + ", ".join(j.source for j in scan_joins) + " ]")
            )

    if window is not None and inc:
        info = "wType:" + _WTYPE.get(window.kind, window.kind.upper())
        if dims:
            info += ", Dimension:[" + ", ".join(_expr_str(d, src) for d in dims) + "]"
        if window.filter is not None:
            info += ", filter:[" + _expr_str(window.filter, src) + "]"
        info += ", funcs:[" + ",".join(inc_funcs) + "]"
        ops.append(("IncAggWindowPlan", info))
    elif window is not None:
        length = int(window.args[0]) if window.args else 0
        info = "{ length:" + str(length) + ", windowType:" + _WTYPE.get(
            window.kind, window.kind.upper()
        )
        if window.filter is not None:
            info += ", condition:" + _expr_str(window.filter, src)
        info += ", limit: 0 }"
        ops.append(("WindowPlan", info))

    # AnalyticFuncsPlan sits below the window, above the sources
    # (planner.go:652-659); fields-origin calls dedup WHERE-origin ones
    an_field: list[FuncCall] = []
    _an_seen: set = set()
    for f in stmt.fields:
        _collect_analytic(f, an_field, _an_seen, src)
    an_funcs: list[FuncCall] = []
    if stmt.where is not None:
        _collect_analytic(stmt.where, an_funcs, _an_seen, src)
    if an_field or an_funcs:
        parts2 = []
        if an_funcs:
            parts2.append(
                "Funcs:[ " + ", ".join(_call_str(c, src) for c in an_funcs) + " ]"
            )
        if an_field:
            parts2.append(
                "FieldFuncs:[ " + ", ".join(_call_str(c, src) for c in an_field) + " ]"
            )
        ops.append(("AnalyticFuncsPlan", ", ".join(parts2)))

    if is_event_time:
        # WatermarkPlan above the stream sources (planner.go:640-648);
        # SendWatermark mirrors hasWindow
        emitters = [stmt.source] + [j.source for j in stream_joins]
        ops.append(
            ("WatermarkPlan",
             "Emitters:[ " + ", ".join(emitters) + " ], SendWatermark:"
             + str(window is not None).lower())
        )

    # DataSourcePlan per source (statement order; LOOKUP tables are not
    # data sources — planner.go:598-604; scan tables align last);
    # StreamFields = pruned used columns of the TYPED schema, sorted — a
    # wildcard (incl. a count(*) arg) keeps every field
    # (dataSourcePlan.go pruning)
    used = _used_columns(stmt)
    sources = [(stmt.source, src)] + [
        (j.source, j.alias or j.source) for j in stream_joins + scan_joins
    ]
    ds_infos: list[tuple[str, str]] = []
    for sname, _alias in sources:
        info = f"StreamName: {sname}"
        d = catalog.get(sname) if catalog is not None else None
        if d is not None and d.schema is not None:
            names = sorted(
                f.name for f in d.schema.fields
                if used is None or f.name in used
            )
            if names:
                info += ", StreamFields:[ " + ", ".join(names) + " ]"
        ds_infos.append(("DataSourcePlan", info))

    # --- render with the reference's numbering + cumulative indent --------
    lines: list[str] = []
    n = 0
    for i, (op, info) in enumerate(ops):
        level = i
        prefix = "" if level == 0 else "\t" * (2 * level - 1)
        lines.append(prefix + '{"op":"%s_%d","info":"%s"}' % (op, n, info))
        n += 1
    level = len(ops)
    prefix = "\t" * (2 * level - 1) if level else ""
    for op, info in ds_infos:
        lines.append(prefix + '{"op":"%s_%d","info":"%s"}' % (op, n, info))
        n += 1
    return "\n".join(lines)

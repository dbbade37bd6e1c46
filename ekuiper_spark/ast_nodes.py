"""AST for the ekuiper SQL dialect.

Shapes mirror the reference grammar (pkg/ast/expr.go, pkg/ast/statement.go)
but are defined fresh as plain dataclasses.  The translator walks these
into PySpark Column expressions / DataFrame operations.

Every traversal goes through the helpers at the end of this module
(``children``, ``walk``, ``conjuncts``/``conjoin``, ``transform``), the
counterpart of the reference's ``ast.WalkFunc`` (pkg/ast/visitor.go).  The
rule that keeps them complete: a node's sub-expressions are dataclass
fields holding a ``Node``, or lists/tuples of them (nested as in
``CaseWhen.whens``), and ``children`` finds them from the field
declarations.  A new node class needs no traversal code; a walker that
must skip a sub-tree says so with a ``prune``/``fn`` at its call site.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field, fields
from typing import Any, Callable, Iterable, Iterator, Optional


class Node:
    pass


# --------------------------------------------------------------------------
# expressions
# --------------------------------------------------------------------------
@dataclass
class Literal(Node):
    value: Any  # int | float | str | bool | None


@dataclass
class ColumnRef(Node):
    name: str
    source: Optional[str] = None  # stream alias qualifier ("demo.size")


@dataclass
class Wildcard(Node):
    # SELECT *  /  * EXCEPT(a,b)  /  * REPLACE(expr AS name)
    # reference: pkg/ast/expr.go:99-103
    source: Optional[str] = None  # t.* qualifier
    except_cols: list[str] = field(default_factory=list)
    replaces: list[tuple["Node", str]] = field(default_factory=list)


@dataclass
class Binary(Node):
    op: str  # + - * / % & | ^ = != < <= > >= AND OR
    left: Node
    right: Node


@dataclass
class Unary(Node):
    op: str  # - NOT
    operand: Node


@dataclass
class FuncCall(Node):
    name: str
    args: list[Node] = field(default_factory=list)
    # analytic funcs support OVER (PARTITION BY ...) WHEN cond
    # (internal/binder/function/funcs_analytic.go:124-207); window funcs
    # (row_number) additionally take ORDER BY sort fields
    # (xsql/parser.go:1781-1787 parseOver -> c.SortFields)
    partition_by: list[Node] = field(default_factory=list)
    order_by: list["SortSpec"] = field(default_factory=list)
    when: Optional[Node] = None


@dataclass
class CaseWhen(Node):
    operand: Optional[Node]  # CASE x WHEN v ... vs CASE WHEN cond ...
    whens: list[tuple[Node, Node]] = field(default_factory=list)
    else_: Optional[Node] = None


@dataclass
class InExpr(Node):
    expr: Node
    items: list[Node]
    negated: bool = False
    set_expr: Node | None = None  # IN <array-valued expr> form (no parens)


@dataclass
class Between(Node):
    expr: Node
    lo: Node
    hi: Node
    negated: bool = False


@dataclass
class Like(Node):
    expr: Node
    pattern: Node
    negated: bool = False
    escape: Optional[str] = None


@dataclass
class Index(Node):
    # a[1]   (0-based in ekuiper; pkg/ast/expr.go:55-77)
    expr: Node
    index: Node


@dataclass
class Slice(Node):
    # a[1:3], a[:2], a[2:]
    expr: Node
    lo: Optional[Node]
    hi: Optional[Node]


@dataclass
class Access(Node):
    # a->b nested struct/map access; a.b resolves here too when `a` is not
    # a known source alias (internal/xsql/valuer.go jsonFieldGetter)
    expr: Node
    fieldname: str


@dataclass
class JsonPath(Node):
    # col->'$.x.y' json-path query (pkg/ast/expr.go BinaryExpr w/ ARROW+string)
    expr: Node
    path: str


# --------------------------------------------------------------------------
# statement parts
# --------------------------------------------------------------------------
@dataclass
class Field(Node):
    expr: Node
    alias: Optional[str] = None
    invisible: bool = False  # `expr AS name INVISIBLE` hidden from output


@dataclass
class SortSpec(Node):
    expr: Node
    asc: bool = True


@dataclass
class WindowSpec(Node):
    """GROUP BY window dimension (pkg/ast/statement.go:177-220).

    kind: tumbling|hopping|sliding|session|count|state
    unit:  dd|hh|mi|ss|ms  (time windows)
    args:  ints — tumbling:[len]  hopping:[len,hop]  sliding:[len(,delay)]
           session:[gap] (1-arg dialect form) or [length(cap),
           interval(timeout)] (reference form, window_op.go:304)
           count:[n(,interval)]
    state: [begin_expr, emit_expr] conditions
    """

    kind: str
    unit: Optional[str] = None
    args: list[Any] = field(default_factory=list)
    state_conds: list[Node] = field(default_factory=list)
    partition: list[Node] = field(default_factory=list)
    filter: Optional[Node] = None  # window FILTER(where ...) clause
    trigger: Optional[Node] = None  # sliding OVER(WHEN ...)


@dataclass
class JoinClause(Node):
    source: str
    alias: Optional[str]
    kind: str  # inner|left|right|full|cross
    on: Optional[Node]


@dataclass
class GroupBy(Node):
    dims: list[Node] = field(default_factory=list)
    window: Optional[WindowSpec] = None


@dataclass
class SelectStatement(Node):
    fields: list[Field] = field(default_factory=list)
    source: str = ""
    source_alias: Optional[str] = None
    joins: list[JoinClause] = field(default_factory=list)
    where: Optional[Node] = None
    group: Optional[GroupBy] = None
    having: Optional[Node] = None
    order: list[SortSpec] = field(default_factory=list)
    limit: Optional[int] = None


# --------------------------------------------------------------------------
# traversal
# --------------------------------------------------------------------------
_FIELD_NAMES: dict[type, tuple[str, ...]] = {}


def _field_names(cls: type) -> tuple[str, ...]:
    names = _FIELD_NAMES.get(cls)
    if names is None:
        names = _FIELD_NAMES[cls] = tuple(f.name for f in fields(cls))
    return names


def _flatten_into(v: Any, out: list) -> None:
    if isinstance(v, Node):
        out.append(v)
    elif isinstance(v, (list, tuple)):
        for x in v:
            _flatten_into(x, out)


def children(n: Node) -> list[Node]:
    """The Node-valued fields of ``n`` in declaration order, lists and
    tuples flattened (``CaseWhen.whens`` pairs, ``Wildcard.replaces``)."""
    out: list[Node] = []
    for name in _field_names(type(n)):
        _flatten_into(getattr(n, name), out)
    return out


def walk(
    n: Optional[Node], prune: Optional[Callable[[Node], bool]] = None
) -> Iterator[Node]:
    """Pre-order iterator over ``n`` and its descendants (nothing for
    None).  A node for which ``prune(node)`` is true is yielded but its
    children are not entered."""
    stack = [] if n is None else [n]
    while stack:
        x = stack.pop()
        yield x
        if prune is None or not prune(x):
            stack.extend(reversed(children(x)))


def conjuncts(n: Optional[Node], op: str = "AND") -> list[Node]:
    """Flatten a chain of ``op`` (left to right) into its operands; [] for
    None."""
    if n is None:
        return []
    if isinstance(n, Binary) and n.op == op:
        return conjuncts(n.left, op) + conjuncts(n.right, op)
    return [n]


def conjoin(nodes: Iterable[Optional[Node]], op: str = "AND") -> Optional[Node]:
    """Left-deep ``op`` chain over ``nodes`` (None entries skipped); None
    when nothing is left."""
    out: Optional[Node] = None
    for c in nodes:
        if c is not None:
            out = c if out is None else Binary(op, out, c)
    return out


def transform(
    n: Optional[Node], fn: Callable[[Node], Optional[Node]]
) -> Optional[Node]:
    """Rebuilt copy of ``n``: where ``fn(node)`` returns a node, that node
    replaces ``node`` and is not entered; where it returns None the
    node's children are transformed.  The input is never mutated;
    unchanged sub-trees are shared with it."""
    if n is None:
        return None
    r = fn(n)
    if r is not None:
        return r
    changed: dict[str, Any] = {}
    for name in _field_names(type(n)):
        v = getattr(n, name)
        nv = _transform_value(v, fn)
        if nv is not v:
            changed[name] = nv
    if not changed:
        return n
    out = copy.copy(n)
    for name, v in changed.items():
        setattr(out, name, v)
    return out


def _transform_value(v: Any, fn):
    if isinstance(v, Node):
        return transform(v, fn)
    if isinstance(v, (list, tuple)):
        items = [_transform_value(x, fn) for x in v]
        if all(a is b for a, b in zip(items, v)):
            return v
        return type(v)(items)
    return v

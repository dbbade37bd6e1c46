"""Expression-tree traversal helpers in ekuiper_spark.ast_nodes (no Spark).

One instance of every Node dataclass, with a distinct marker node in each
Node-valued field, pins ``children`` to the full child set: a node class or
field added later without a sample here fails the coverage test instead of
being skipped silently by every walker.
"""

from __future__ import annotations

import copy

import pytest

from ekuiper_spark import ast_nodes as A
from ekuiper_spark.ast_nodes import (
    Binary, ColumnRef, FuncCall, Literal, children, conjoin, conjuncts,
    transform, walk,
)
from ekuiper_spark.parser import parse_sql


def _m(i: int) -> ColumnRef:
    return ColumnRef(f"m{i}")


def _samples() -> dict[type, tuple[A.Node, list[A.Node]]]:
    """class -> (instance, its expected children in declaration order)."""
    m = [_m(i) for i in range(12)]
    sort = A.SortSpec(m[5])
    out: dict[type, tuple[A.Node, list[A.Node]]] = {
        A.Literal: (Literal(1), []),
        A.ColumnRef: (ColumnRef("a", "s"), []),
        A.Wildcard: (A.Wildcard(None, ["x"], [(m[0], "r0"), (m[1], "r1")]), m[:2]),
        A.Binary: (Binary("+", m[0], m[1]), m[:2]),
        A.Unary: (A.Unary("-", m[0]), m[:1]),
        A.FuncCall: (
            FuncCall("lag", [m[0], m[1]], [m[2], m[3]], [sort], m[4]),
            [m[0], m[1], m[2], m[3], sort, m[4]],
        ),
        A.CaseWhen: (
            A.CaseWhen(m[0], [(m[1], m[2]), (m[3], m[4])], m[5]), m[:6]
        ),
        A.InExpr: (A.InExpr(m[0], [m[1], m[2]], False, m[3]), m[:4]),
        A.Between: (A.Between(m[0], m[1], m[2]), m[:3]),
        A.Like: (A.Like(m[0], m[1]), m[:2]),
        A.Index: (A.Index(m[0], m[1]), m[:2]),
        A.Slice: (A.Slice(m[0], m[1], m[2]), m[:3]),
        A.Access: (A.Access(m[0], "f"), m[:1]),
        A.JsonPath: (A.JsonPath(m[0], "$.x"), m[:1]),
        A.Field: (A.Field(m[0], "a"), m[:1]),
        A.SortSpec: (sort, [m[5]]),
        A.WindowSpec: (
            A.WindowSpec("state", None, [1], [m[0], m[1]], [m[2]], m[3], m[4]),
            m[:5],
        ),
        A.JoinClause: (A.JoinClause("t", None, "inner", m[0]), m[:1]),
    }
    win = out[A.WindowSpec][0]
    group = A.GroupBy([m[6]], win)
    out[A.GroupBy] = (group, [m[6], win])
    field = out[A.Field][0]
    join = out[A.JoinClause][0]
    out[A.SelectStatement] = (
        A.SelectStatement([field], "s", None, [join], m[7], group, m[8], [sort], 5),
        [field, join, m[7], group, m[8], sort],
    )
    return out


def _node_classes() -> list[type]:
    return [
        c for c in vars(A).values()
        if isinstance(c, type) and issubclass(c, A.Node) and c is not A.Node
    ]


def test_every_node_class_has_a_sample():
    assert set(_node_classes()) == set(_samples())


@pytest.mark.parametrize("cls", _node_classes(), ids=lambda c: c.__name__)
def test_children_yields_every_node_field(cls):
    node, expected = _samples()[cls]
    got = children(node)
    assert [id(x) for x in got] == [id(x) for x in expected]
    # every Node-valued field (however nested in lists/tuples) is covered
    for name, v in vars(node).items():
        stack = [v]
        while stack:
            x = stack.pop()
            if isinstance(x, A.Node):
                assert any(x is c for c in got), (cls.__name__, name)
            elif isinstance(x, (list, tuple)):
                stack.extend(x)


def test_walk_is_preorder_and_prune_keeps_the_node():
    stmt = parse_sql(
        "SELECT a + count(b * 2) AS x FROM s WHERE c > 1 AND meta('k') = 'v'"
    )
    names = [n.name for n in walk(stmt) if isinstance(n, (ColumnRef, FuncCall))]
    assert names == ["a", "count", "b", "c", "meta"]

    def is_call(n):
        return isinstance(n, FuncCall)

    pruned = [n.name for n in walk(stmt, is_call) if isinstance(n, (ColumnRef, FuncCall))]
    assert pruned == ["a", "count", "c", "meta"]
    assert list(walk(None)) == []


def test_conjuncts_conjoin_round_trip():
    where = parse_sql("SELECT a FROM s WHERE a > 1 AND (b < 2 OR c = 3) AND d").where
    parts = conjuncts(where)
    assert len(parts) == 3
    assert conjoin(parts) == where
    assert conjuncts(conjoin(parts)) == parts
    ors = conjuncts(parts[1], "OR")
    assert len(ors) == 2 and conjoin(ors, "OR") == parts[1]
    assert conjuncts(None) == [] and conjoin([]) is None
    assert conjoin([None, parts[0], None]) is parts[0]


def test_transform_rebuilds_without_mutating():
    stmt = parse_sql(
        "SELECT CASE WHEN a > 1 THEN b ELSE lag(a) OVER (PARTITION BY a) END "
        "AS x FROM s WHERE a IN (1, a) AND b LIKE 'a%'"
    )
    before = copy.deepcopy(stmt)

    def rename(n):
        if isinstance(n, ColumnRef) and n.name == "a":
            return ColumnRef("z")
        return None

    out = transform(stmt, rename)
    assert stmt == before
    assert "ColumnRef(name='a'" not in repr(out)
    assert repr(out).count("ColumnRef(name='z'") == repr(stmt).count("ColumnRef(name='a'")
    # a replacement is not entered, and untouched sub-trees are shared
    zeroed = transform(
        stmt, lambda n: Literal(0) if isinstance(n, A.CaseWhen) else None
    )
    assert zeroed.fields[0].expr == Literal(0)
    assert transform(stmt, lambda n: None) is stmt
    assert out.where.right is stmt.where.right

"""Materialized-view query shapes read off Spark's parsed plan.

``read_mv_shape`` takes the text of an MV query and the unresolved plan
Spark's own parser built for it (``sessionState().sqlParser()
.parsePlan(text)``) and returns the pieces the incremental refresh
tiers need: the select items, the relations and inner-join ``ON``
conditions, WHERE, GROUP BY and HAVING. Every spelling is sliced from
the query text through each parsed node's ``origin`` span, so the
stored ``mv.*`` properties and generated store queries repeat the
user's own text. Keywords inside string literals never move a clause
boundary, because the boundaries come from the parser.

``plan_aggregates`` and ``groups_are_keys`` are the structural guard
over Spark's analyzed plan: which node classes an incremental tier
admits, and whether GROUP BY names exactly the select-list keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import SparkContext

# the aggregate calls the incremental tiers maintain, as Spark spells
# them (lower-cased); PERCENTILE_APPROX is APPROX_PERCENTILE's alias
AGG_OPS = frozenset(
    {
        "count", "sum", "min", "max", "avg", "approx_count_distinct",
        "approx_percentile", "percentile_approx",
    }
)


# analyzed-plan nodes an incrementally maintained MV query may be built
# of besides leaves (relations), Aggregates and inner Joins: a
# projection / filter / explode maps each new base row to >= 0 result
# rows independently, so REFRESH can process the base's append-diff
# instead of re-running over the full table
PLAN_NODES = frozenset(
    {"Project", "Filter", "Generate", "SubqueryAlias", "View"}
)


@dataclass
class MvItem:
    """One select item, spelled as written in the query."""

    sql: str
    span: tuple[int, int]  # [start, stop] of ``sql`` in the query
    name: str | None = None  # output name; None: not a recognized item
    expr: str | None = None  # the expression of ``expr AS name``
    ref: bool = False  # the expression is a column, ``col`` or ``q.col``
    agg: tuple[str, bool, str] | None = None  # (op as written, DISTINCT, arg)
    has_agg: bool = False  # an aggregate call anywhere in the item


@dataclass
class MvShape:
    """``tables`` lists every relation the plan names, in query order.
    The other fields are filled only for ``SELECT ... FROM t [[INNER]
    JOIN d ON ...]... [WHERE ...] [GROUP BY ...] [HAVING ...]`` over
    bare relation names (``items`` is None otherwise)."""

    tables: list[str]
    items: list[MvItem] | None = None
    items_sql: str = ""
    joins_sql: str = ""  # the JOIN chain after the FROM table
    ons: list[str] = field(default_factory=list)
    where: str | None = None
    group_by_sql: str | None = None
    having: str | None = None
    # aggregate calls inside HAVING: (start, stop, agg) within `having`
    having_aggs: list[tuple[int, int, tuple[str, bool, str] | None]] = (
        field(default_factory=list)
    )
    body_sql: str = ""  # the query up to (not including) HAVING


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _seq(seq) -> list:
    """A Scala Seq as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _children(node) -> list:
    return _seq(node.children())


def _origin(node) -> tuple[int, int] | None:
    """The node's own origin span, when the parser recorded one."""
    o = node.origin()
    start, stop = o.startIndex(), o.stopIndex()
    if start.isDefined() and stop.isDefined():
        return start.get(), stop.get()
    return None


def _span(sql: str, node, widen: bool = True) -> tuple[int, int]:
    """[start, stop] of a parsed expression in ``sql``. A node's own
    origin can start after its left operand - Spark gives ``v IN (1,
    2)`` and ``a IS DISTINCT FROM b`` the span of the predicate tail -
    so the start is the earliest along the chain of first children.
    Spark gives ``(a = b)`` the span of ``a = b``; with ``widen`` the
    span grows over parentheses that enclose exactly the node, so a
    clause-level expression keeps the parentheses it was written with."""
    s, e = _origin(node)
    kids = node.children()
    while not kids.isEmpty():
        first = kids.head()
        own = _origin(first)
        s = s if own is None else min(s, own[0])
        kids = first.children()
    while widen:
        i, j = s - 1, e + 1
        while i >= 0 and sql[i].isspace():
            i -= 1
        while j < len(sql) and sql[j].isspace():
            j += 1
        if i < 0 or j >= len(sql) or sql[i] != "(" or sql[j] != ")":
            break
        s, e = i, j
    return s, e


def _name(node) -> str:
    return node.nameParts().mkString(".")


def _agg_call(sql: str, node) -> tuple[str, bool, str, str] | None:
    """(op as written, DISTINCT, argument spelling, call spelling) of a
    plain aggregate call ``op([DISTINCT] arg)``, else None (not a call,
    an op outside :data:`AGG_OPS`, or a FILTER clause)."""
    if _kind(node) != "UnresolvedFunction":
        return None
    op = _name(node)
    if op.lower() not in AGG_OPS or node.filter().isDefined():
        return None
    s, e = _span(sql, node, widen=False)
    call = sql[s : e + 1]
    if not call.endswith(")"):
        return None
    # Spark's parser rewrites COUNT(*) to count(1) and gives that
    # literal the span of the whole call, so the argument is sliced
    # between the call's own parentheses, never from the argument
    # nodes: mv.agg_args must keep "*", which the CDC paths test for
    arg = call[call.index("(") + 1 : -1].strip()
    distinct = bool(node.isDistinct())
    if distinct:
        if arg[:8].upper() != "DISTINCT":
            return None
        arg = arg[8:].strip()
    return op, distinct, arg, call


def _agg_calls(sql: str, node, out: list) -> list:
    """Every outermost aggregate-named call under ``node`` (inclusive),
    as (call node, :func:`_agg_call` result or None)."""
    kind = _kind(node)
    if kind == "UnresolvedFunction" and _name(node).lower() in AGG_OPS:
        out.append((node, _agg_call(sql, node)))
        return out
    for kid in _children(node):
        _agg_calls(sql, kid, out)
    return out


def _paren_depth(s: str) -> int:
    depth = top = 0
    for ch in s:
        if ch == "(":
            depth += 1
            top = max(top, depth)
        elif ch == ")":
            depth -= 1
    return top


def _item(sql: str, node) -> MvItem:
    span = _span(sql, node)
    text = sql[span[0] : span[1] + 1]
    if _kind(node) == "UnresolvedAttribute":
        parts = node.nameParts()
        if parts.size() > 2:
            return MvItem(text, span)
        return MvItem(text, span, parts.apply(parts.size() - 1), ref=True)
    if _kind(node) != "Alias":
        return MvItem(text, span)
    # only the explicit ``expr AS name`` form with a plain name is an
    # item the tiers recognize (an implicit or quoted alias is not)
    name = node.name()
    head = text[: -len(name)].rstrip() if text.endswith(name) else ""
    if head[-2:].upper() != "AS" or not head[-3:-2].isspace():
        return MvItem(text, span)
    child = node.child()
    item = MvItem(
        text,
        span,
        name,
        expr=head[:-2].strip(),
        ref=_kind(child) == "UnresolvedAttribute"
        and child.nameParts().size() <= 2,
        has_agg=bool(_agg_calls(sql, child, [])),
    )
    call = _agg_call(sql, child)
    # at most one level of parentheses inside the argument (e.g.
    # APPROX_PERCENTILE's array(p1, p2) form): the set of aggregate
    # items the tiers accept stays what it was
    if call and call[3] == item.expr and _paren_depth(call[2]) <= 1:
        item.agg = call[:3]
    return item


def _relations(plan) -> list[str]:
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        if _kind(node) == "UnresolvedRelation":
            out.append(node.multipartIdentifier().mkString("."))
        stack.extend(reversed(_children(node)))
    return out


def read_mv_shape(sql: str, plan) -> MvShape:
    """The shape of MV query ``sql`` whose parsed plan is ``plan``."""
    shape = MvShape(_relations(plan))
    node, having = plan, None
    if _kind(node) == "UnresolvedHaving":
        having, node = node.havingCondition(), node.child()
        # the parser wraps a HAVING condition that is not a predicate
        # (e.g. BETWEEN) in Cast(_, boolean) carrying the whole
        # statement's span: read the condition as written instead
        if _kind(having) == "Cast" and _origin(having) == _origin(plan):
            having = having.child()
    if _kind(node) == "Aggregate":
        exprs = node.aggregateExpressions()
        groups = _seq(node.groupingExpressions())
    elif _kind(node) == "Project":
        exprs, groups = node.projectList(), []
    else:
        return shape
    rel, where = node.child(), None
    if _kind(rel) == "Filter":
        where, rel = rel.condition(), rel.child()
    ons = []
    while _kind(rel) == "Join":
        if (
            rel.joinType().toString() != "Inner"
            or not rel.condition().isDefined()
            or _kind(rel.right()) != "UnresolvedRelation"
        ):
            return shape
        ons.insert(0, _span(sql, rel.condition().get()))
        rel = rel.left()
    if _kind(rel) != "UnresolvedRelation":
        return shape
    # an unaliased expression item comes wrapped in UnresolvedAlias
    nodes = [
        n.child() if _kind(n) == "UnresolvedAlias" else n for n in _seq(exprs)
    ]
    shape.items = [_item(sql, e) for e in nodes]
    first, last = shape.items[0].span[0], shape.items[-1].span[1]
    shape.items_sql = sql[first : last + 1]
    end = _span(sql, rel, widen=False)[1]
    if ons:
        shape.joins_sql = sql[end + 1 : ons[-1][1] + 1].strip()
        shape.ons = [sql[s : e + 1] for s, e in ons]
        end = ons[-1][1]
    if where is not None:
        s, end = _span(sql, where)
        shape.where = sql[s : end + 1]
    if groups:
        s, end = _span(sql, groups[0])[0], _span(sql, groups[-1])[1]
        shape.group_by_sql = sql[s : end + 1]
    shape.body_sql = sql[: end + 1]
    if having is not None:
        hs, he = _span(sql, having)
        shape.having = sql[hs : he + 1]
        for call, agg in _agg_calls(sql, having, []):
            s, e = _span(sql, call, widen=False)
            shape.having_aggs.append((s - hs, e - hs, agg and agg[:3]))
    return shape


def plan_aggregates(plan, joins: int) -> list | None:
    """The Aggregate nodes of analyzed ``plan`` when every other node is
    in :data:`PLAN_NODES`, a leaf, or one of exactly ``joins`` inner
    Joins, and no subquery expression appears anywhere (its result
    would depend on the whole base, not the delta); else None."""
    trees = SparkContext._jvm.org.apache.spark.sql.catalyst.trees
    if plan.containsPattern(trees.TreePattern.PLAN_EXPRESSION()):
        return None
    aggs, n_join, stack = [], 0, [plan]
    while stack:
        node = stack.pop()
        kind, kids = _kind(node), _children(node)
        if kind == "Aggregate":
            aggs.append(node)
        elif kind == "Join":
            if node.joinType().toString() != "Inner":
                return None
            n_join += 1
        elif kind not in PLAN_NODES and kids:
            return None
        stack.extend(kids)
    return aggs if n_join == joins else None


def groups_are_keys(agg, items: list[MvItem]) -> bool:
    """True when the analyzed Aggregate ``agg`` groups by exactly the
    non-aggregate select ``items`` - by alias, column, spelled-out
    expression or ordinal, as Spark resolved them."""
    outs = agg.aggregateExpressions()
    if outs.size() != len(items):
        return False
    keys = [
        e.child() if _kind(e) == "Alias" else e
        for e, item in zip(_seq(outs), items)
        if item.agg is None
    ]
    groups = _seq(agg.groupingExpressions())
    return all(any(g.semanticEquals(k) for k in keys) for g in groups) and all(
        any(k.semanticEquals(g) for g in groups) for k in keys
    )

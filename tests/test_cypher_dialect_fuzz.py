"""Property-based dialect-equivalence fuzz for the Cypher transpiler.

The oracle gate runs the SAME transpiler in two dialects, so a shared
semantic misreading passes it (the golden corpus covers that class with
hand-computed rows). This suite attacks the OTHER failure class: a
DIALECT-SPLIT emission whose two sides disagree — split()'s
regex-vs-literal separators, =~ anchoring, element_at vs list_extract,
power(), list predicates via forall vs list_filter+len, reduce() via
aggregate vs list_reduce+prepend, struct/CASE/coalesce forms. Hypothesis
generates random queries from a small grammar, both emissions run on
the same fixture graph (Spark + DuckDB), and the sorted results must
match cell-for-cell (floats within 1e-9 relative).

Any counterexample is a real bug in one of the emissions: the inputs
are the engine's own two outputs for one query, no external semantics
involved.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from conftest import fuzz_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from neo4j_arrow_spark.cypher import cypher_to_sql

import datetime as _dt

NODES = [
    (1, ["P"], "alice", 30, 12.5, _dt.date(1995, 8, 15)),
    (2, ["P"], "bob", 25, -3.25, _dt.date(1996, 1, 1)),
    (3, ["P"], "carol", 35, 0.0, _dt.date(1997, 12, 31)),
    (4, ["P", "Q"], "dave", 40, 99.75, _dt.date(2000, 2, 29)),
    (5, ["Q"], "erin", None, None, None),
    # "Order" spells a Cypher keyword — label positions must accept it
    (6, ["R", "Order"], "frank", 50, 7.0, _dt.date(1999, 7, 4)),
]
RELS = [
    (1, 2, "K", 1.0),
    (1, 2, "K", 5.0),
    (2, 3, "K", 2.0),
    (3, 1, "K", 3.0),
    (4, 2, "T", 1.5),
    (2, 4, "T", 2.5),
    (5, 4, "T", None),
]

# -- expression grammar ------------------------------------------------------

_NUM_PROPS = ("n.age", "n.bal", "n.ID")
_STR_PROPS = ("n.name",)

num_leaf = st.one_of(
    st.sampled_from(_NUM_PROPS),
    st.integers(min_value=-9, max_value=9).map(str),
    st.sampled_from(("1.5", "2.25", "0.5")),
    # temporal component accessors — every one must agree across
    # dialects (ISO dayOfWeek/week are the dangerous pair)
    st.sampled_from((
        "n.d.year", "n.d.month", "n.d.day", "n.d.quarter",
        "n.d.week", "n.d.dayOfWeek", "n.d.ordinalDay",
        "duration.inDays(n.d, date('2001-01-01')).days",
    )),
)


def _num_expr(depth: int):
    if depth <= 0:
        return num_leaf
    sub = _num_expr(depth - 1)
    return st.one_of(
        num_leaf,
        st.tuples(sub, st.sampled_from("+-*"), sub).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        sub.map(lambda e: f"abs({e})"),
        sub.map(lambda e: f"round({e}, 2)"),
        sub.map(lambda e: f"- {e}"),
        sub.map(lambda e: f"toInteger({e})"),
        sub.map(lambda e: f"floor({e})"),
        sub.map(lambda e: f"ceil({e})"),
        st.tuples(sub, sub).map(lambda t: f"greatest({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"least({t[0]}, {t[1]})"),
        st.tuples(sub, sub).map(
            lambda t: f"coalesce({t[0]}, {t[1]}, 0)"
        ),
    )


str_leaf = st.one_of(
    st.sampled_from(_STR_PROPS),
    st.sampled_from(("'al'", "'bo'", "'x'", "'li'")),
)


def _str_expr(depth: int):
    if depth <= 0:
        return str_leaf
    sub = _str_expr(depth - 1)
    return st.one_of(
        str_leaf,
        sub.map(lambda e: f"upper({e})"),
        sub.map(lambda e: f"lower({e})"),
        sub.map(lambda e: f"reverse({e})"),
        st.tuples(sub, st.integers(1, 3)).map(
            lambda t: f"left({t[0]}, {t[1]})"
        ),
        st.tuples(sub, st.integers(1, 3)).map(
            lambda t: f"right({t[0]}, {t[1]})"
        ),
        st.tuples(sub, sub).map(lambda t: f"concat({t[0]}, {t[1]})"),
        _num_expr(0).map(lambda e: f"toString(toInteger({e}))"),
        st.tuples(sub, st.sampled_from(("'l'", "'a'", "'.'")), st.integers(-1, 1)).map(
            lambda t: f"split({t[0]}, {t[1]})[{t[2]}]"
        ),
        sub.map(lambda e: f"substring({e}, 1, 3)"),
        st.tuples(sub, st.sampled_from(("'l'", "'a'"))).map(
            lambda t: f"head(split({t[0]}, {t[1]}))"
        ),
        st.tuples(sub, st.sampled_from(("'l'", "'a'"))).map(
            lambda t: f"last(split({t[0]}, {t[1]}))"
        ),
    )


def _pred_expr(depth: int):
    n = _num_expr(depth)
    s = _str_expr(depth)
    base = st.one_of(
        st.tuples(n, st.sampled_from(("<", ">", "=", "<=", ">=", "<>")), n).map(
            lambda t: f"{t[0]} {t[1]} {t[2]}"
        ),
        s.map(lambda e: f"{e} STARTS WITH 'a'"),
        s.map(lambda e: f"{e} CONTAINS 'o'"),
        st.tuples(s, s).map(lambda t: f"{t[0]} STARTS WITH {t[1]}"),
        st.tuples(s, s).map(lambda t: f"{t[0]} ENDS WITH {t[1]}"),
        st.tuples(s, s).map(lambda t: f"{t[0]} CONTAINS {t[1]}"),
        st.sampled_from(_NUM_PROPS).map(lambda p: f"{p} IS NOT NULL"),
        st.sampled_from(_NUM_PROPS).map(lambda p: f"{p} IS NULL"),
        st.sampled_from(_NUM_PROPS).map(lambda p: f"exists({p})"),
        s.map(lambda e: f"{e} =~ '[a-d].*'"),
        n.map(lambda e: f"ANY(x IN [{e}, 1] WHERE x > 2)"),
        n.map(lambda e: f"ALL(x IN [{e}, 5] WHERE x > 0)"),
        st.tuples(n, n, n).map(lambda t: f"{t[0]} <= {t[1]} < {t[2]}"),
        st.sampled_from(
            ("n:P", "n:Q", "n:P:Q", "n:Q|R", "n:R", "n:Order", "NOT (n:Order)")
        ),
    )
    if depth <= 0:
        return base
    sub = _pred_expr(depth - 1)
    return st.one_of(
        base,
        st.tuples(sub, sub).map(lambda t: f"({t[0]} AND {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} OR {t[1]})"),
        st.tuples(sub, sub).map(lambda t: f"({t[0]} XOR {t[1]})"),
        sub.map(lambda e: f"NOT ({e})"),
    )


ret_expr = st.one_of(
    _num_expr(2),
    _str_expr(2),
    # pattern comprehensions: both dialect emissions must agree on the
    # sorted comma-joined rendering and the '' empty case
    st.sampled_from((
        "[(n)-[:K]->(m) | m.name]",
        "[(m)-[:K]->(n) | m.age]",
        "[(n)-[r:K]-(m) WHERE r.w > 1.5 | m.name]",
        "size([(n)-[:T]->(m) | m])",
        "size([(n)-[r:K]-(m) WHERE r.w >= 2.0 | m])",
    )),
    st.tuples(_num_expr(1),).map(
        lambda t: f"reduce(s = 0, x IN [{t[0]}, 2] | s + x)"
    ),
    st.tuples(_pred_expr(0), _num_expr(1), _num_expr(1)).map(
        lambda t: f"CASE WHEN {t[0]} THEN {t[1]} ELSE {t[2]} END"
    ),
)

plain_query = st.tuples(
    st.sampled_from(("P", "Q", "R", "Order")),
    st.one_of(st.none(), _pred_expr(1)),
    ret_expr,
).map(
    lambda t: (
        f"MATCH (n:{t[0]}) "
        + (f"WHERE {t[1]} " if t[1] else "")
        + f"RETURN n.ID AS id, {t[2]} AS x ORDER BY id"
    )
)

_agg = st.one_of(
    _num_expr(1).map(lambda e: f"sum({e})"),
    _num_expr(1).map(lambda e: f"min({e})"),
    _num_expr(1).map(lambda e: f"max({e})"),
    _num_expr(1).map(lambda e: f"round(avg({e}), 4)"),
    st.just("count(*)"),
    _num_expr(0).map(lambda e: f"count({e})"),
    _num_expr(0).map(lambda e: f"collect({e})"),
    _str_expr(1).map(lambda e: f"collect({e})"),
)

agg_query = st.tuples(
    st.sampled_from(("P", "Q", "R")),
    st.one_of(st.none(), _pred_expr(1)),
    _str_expr(1),
    _agg,
).map(
    lambda t: (
        f"MATCH (n:{t[0]}) "
        + (f"WHERE {t[1]} " if t[1] else "")
        + f"RETURN {t[2]} AS g, {t[3]} AS x ORDER BY g"
    )
)

def _vl_text(t):
    rtype, direction, bounds = t
    rel = f"[:{rtype}{bounds}]" if rtype else f"[{bounds}]"
    if direction == "->":
        arrow = f"-{rel}->"
    elif direction == "<-":
        arrow = f"<-{rel}-"
    else:
        arrow = f"-{rel}-"
    return (
        f"MATCH (a){arrow}(b) "
        "RETURN a.ID AS s, b.ID AS t, count(*) AS n ORDER BY s, t"
    )


# bounded varlength: the r8 per-path edge-identity conds are the one
# dialect-SPLIT emission in the expansion (`<=>` vs IS NOT DISTINCT
# FROM for null-safe property comparison) — both engines must agree on
# path multiplicities incl. NULL-prop edges
vl_query = st.tuples(
    st.sampled_from(("K", "T", None)),
    st.sampled_from(("->", "<-", "-")),
    st.sampled_from(("*1..2", "*2..2", "*1..3", "*2..3")),
).map(_vl_text)

query = st.one_of(plain_query, agg_query, vl_query)


@pytest.fixture(scope="module")
def engines(spark):
    nodes = spark.createDataFrame(
        NODES,
        "ID long, LABELS array<string>, name string, age long, "
        "bal double, d date",
    )
    rels = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(RELS)],
        "REL_ID long, START_ID long, END_ID long, TYPE string, w double",
    )
    nodes.createOrReplaceTempView("fznodes")
    rels.createOrReplaceTempView("fzrels")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE fznodes AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {labels!r}, {name!r}, "
            f"{'NULL' if age is None else age}, "
            f"{'NULL' if bal is None else bal}, "
            + ("CAST(NULL AS DATE)" if d is None else f"DATE '{d}'")
            + ")"
            for i, labels, name, age, bal, d in NODES
        )
        + ") t(ID, LABELS, name, age, bal, d)"
    )
    con.execute(
        "CREATE TABLE fzrels AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {a}, {b}, {ty!r}, {'NULL' if w is None else w})"
            for i, (a, b, ty, w) in enumerate(RELS)
        )
        + ") t(REL_ID, START_ID, END_ID, TYPE, w)"
    )
    return spark, con


def _cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@settings(
    max_examples=fuzz_examples(60),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(q=query)
def test_dialect_emissions_agree(engines, q):
    spark, con = engines
    spark_sql = cypher_to_sql(
        q, "fznodes", "fzrels", rel_id=True, rel_props=["w"]
    )
    duck_sql = cypher_to_sql(
        q, "fznodes", "fzrels", dialect="duckdb", rel_id=True,
        rel_props=["w"],
    )
    got_spark = [tuple(r) for r in spark.sql(spark_sql).collect()]
    got_duck = con.execute(duck_sql).fetchall()
    assert len(got_spark) == len(got_duck), (
        f"row count {len(got_spark)} vs {len(got_duck)} for\n{q}"
    )
    for rs, rd in zip(got_spark, got_duck):
        assert len(rs) == len(rd) and all(
            _cells_equal(a, b) for a, b in zip(rs, rd)
        ), f"row {rs} vs {rd} for\n{q}\n-- spark:\n{spark_sql}\n-- duck:\n{duck_sql}"


def test_collect_all_null_group_renders_empty(engines):
    """r9 fuzz find, pinned deterministically: collect() over an
    all-NULL group is the EMPTY list — Spark renders '' via
    array_join; DuckDB needed FILTER (null-skipping) + COALESCE
    (empty aggregate → NULL, and array_to_string([]) → NULL)."""
    spark, con = engines
    q = "MATCH (n:Q) RETURN n.name AS g, collect(n.d.year) AS x ORDER BY g"
    s = cypher_to_sql(q, "fznodes", "fzrels", rel_id=True, rel_props=["w"])
    d = cypher_to_sql(
        q, "fznodes", "fzrels", dialect="duckdb", rel_id=True,
        rel_props=["w"],
    )
    got_s = [tuple(r) for r in spark.sql(s).collect()]
    got_d = con.execute(d).fetchall()
    assert got_s == got_d
    assert ("erin", "") in got_s


def test_parenthesized_exists_predicate(engines):
    """r10 fuzz find, pinned deterministically: exists(n.prop) wrapped
    in parens (`WHERE NOT (exists(n.age))`) must route through the
    boolean-group path to the EXISTS handler, not fall to value()'s
    function whitelist."""
    spark, con = engines
    q = (
        "MATCH (n:P) WHERE NOT (exists(n.age)) "
        "RETURN n.ID AS id ORDER BY id"
    )
    s = cypher_to_sql(q, "fznodes", "fzrels", rel_id=True, rel_props=["w"])
    d = cypher_to_sql(
        q, "fznodes", "fzrels", dialect="duckdb", rel_id=True,
        rel_props=["w"],
    )
    got_s = [tuple(r) for r in spark.sql(s).collect()]
    got_d = con.execute(d).fetchall()
    assert got_s == got_d


def test_in_labels_membership_array_form(engines):
    """r10 probe find, pinned: `'x' IN labels(n)` must test membership
    in the LABEL ARRAY — the bare labels() accessor scalarizes to the
    sorted comma-joined render, which array_contains dies on."""
    spark, con = engines
    q = "MATCH (n) WHERE 'Q' IN labels(n) RETURN n.ID AS id ORDER BY id"
    s = cypher_to_sql(q, "fznodes", "fzrels", rel_id=True, rel_props=["w"])
    d = cypher_to_sql(
        q, "fznodes", "fzrels", dialect="duckdb", rel_id=True,
        rel_props=["w"],
    )
    got_s = [tuple(r) for r in spark.sql(s).collect()]
    got_d = con.execute(d).fetchall()
    assert got_s == got_d
    assert got_s == [(4,), (5,)]

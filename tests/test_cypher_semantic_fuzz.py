"""Semantic fuzz: random pattern queries vs an INDEPENDENT evaluator.

The dialect fuzz proves the two emissions agree with each other; the
golden corpus pins ~135 hand-computed cases. This suite closes the gap
between them: hypothesis generates random MATCH/WHERE/RETURN queries
over the fixture graph, a ~100-line pure-Python openCypher evaluator
(written from the spec, ZERO use of cypher_to_sql) computes the
expected rows, and the transpiled Spark result must match exactly.

Relationship identity is TRUE openCypher since r7: the fixture rels
carry the REL_ID column every catalog graph's edges carry, so
the evaluator keys within-clause uniqueness on the edge ROW (its list
index) — exact-duplicate parallel edges are distinct relationships
(the fixture includes one such pair to pin this). Everything else —
direction, label filters, property maps, ternary NULL logic in WHERE,
grouped count(*) — is straight openCypher semantics.

Any counterexample is a real transpiler emission bug (wrong join key,
direction flip, filter misplacement, NULL mishandling) of exactly the
class the r4 rel-uniqueness bug belonged to.
"""

from __future__ import annotations

import itertools

import pytest
from conftest import fuzz_examples
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from neo4j_arrow_spark.cypher import cypher_to_sql

# same graph as the golden corpus: multi-labels, parallel K edges,
# a directed 3-cycle, a 2-cycle, NULL props, an isolated node
NODES = {
    1: (["P"], "alice", 30),
    2: (["P"], "bob", 25),
    3: (["P"], "carol", 35),
    4: (["P", "Q"], "dave", 40),
    5: (["Q"], "erin", None),
    6: (["R"], "frank", 50),
}
EDGES = [
    (1, 2, "K", 1.0),
    (1, 2, "K", 5.0),
    (2, 3, "K", 2.0),
    (2, 3, "K", 2.0),  # EXACT duplicate — a distinct relationship
    (3, 1, "K", 3.0),
    (4, 2, "T", 1.5),
    (2, 4, "T", 2.5),
    (5, 4, "T", None),
]


# -- the independent evaluator ------------------------------------------------

def _edge_matches(e, sid_var, tid_var, binding, rtype, direction):
    """Candidate orientations of edge e for a pattern slot, given the
    partial node binding — yields (src_id, dst_id) node assignments."""
    s, t, ty, _w = e
    if rtype and ty != rtype:
        return
    orientations = []
    if direction in ("->", "-"):
        orientations.append((s, t))
    if direction in ("<-", "-"):
        orientations.append((t, s))
    for a, b in orientations:
        if sid_var in binding and binding[sid_var] != a:
            continue
        if tid_var in binding and binding[tid_var] != b:
            continue
        yield a, b


def _node_ok(nid, labels, props):
    nl, name, age = NODES[nid]
    # a label entry may be an alternation group "A|B" (r7): any part
    # matching satisfies the group; groups AND
    if any(
        not any(part in nl for part in lb.split("|")) for lb in labels
    ):
        return False
    for key, val in props:
        actual = {"name": name, "age": age}[key]
        if actual != val:
            return False
    return True


def ref_match(pattern, where=None):
    """Enumerate bindings for one MATCH chain.

    ``pattern`` = (node_specs, rel_specs):
      node_specs: list of (var, labels, props)
      rel_specs:  list of (rtype_or_None, direction)
    Returns a list of dicts var -> node id, one per match (relationship
    row multiplicity preserved; per-row edge-identity uniqueness
    pairwise within the clause)."""
    node_specs, rel_specs = pattern
    out = []

    def extend(i, binding, used_ids):
        if i == len(rel_specs):
            if where is None or where(binding) is True:
                out.append(dict(binding))
            return
        av, al, ap = node_specs[i]
        bv, bl, bp = node_specs[i + 1]
        rtype, direction = rel_specs[i]
        for ei, e in enumerate(EDGES):
            if ei in used_ids:
                continue  # true openCypher identity: the edge ROW
            for a, b in _edge_matches(e, av, bv, binding, rtype, direction):
                if not _node_ok(a, al, ap) or not _node_ok(b, bl, bp):
                    continue
                nb = dict(binding)
                if av in nb and nb[av] != a:
                    continue
                if bv in nb and nb[bv] != b:
                    continue
                nb[av], nb[bv] = a, b
                extend(i + 1, nb, used_ids | {ei})

    extend(0, {}, frozenset())
    return out


# -- query grammar ------------------------------------------------------------

_DIRS = ("->", "<-", "-")
_TYPES = (None, "K", "T")
_LABELS = ((), ("P",), ("Q",), ("R",), ("P", "Q"), ("Q|R",), ("P|Q",))
_PROPS = ((), (("name", "bob"),), (("age", 40),))

node_spec = st.tuples(st.sampled_from(_LABELS), st.sampled_from(_PROPS))
rel_spec = st.tuples(st.sampled_from(_TYPES), st.sampled_from(_DIRS))
n_hops = st.integers(min_value=1, max_value=3)

# WHERE predicates with ternary NULL logic — each entry is
# (cypher_text_fmt, python_eval) over binding vars a/b/c
def _age(binding, var):
    return NODES[binding[var]][2]

_PREDS = [
    ("{v}.age > 28", lambda b, v: None if _age(b, v) is None else _age(b, v) > 28),
    ("{v}.age <= 35", lambda b, v: None if _age(b, v) is None else _age(b, v) <= 35),
    ("{v}.age IS NULL", lambda b, v: _age(b, v) is None),
    ("{v}.age IS NOT NULL", lambda b, v: _age(b, v) is not None),
    ("NOT ({v}.age = 25)", lambda b, v: None if _age(b, v) is None else _age(b, v) != 25),
    # label predicates in expression position (always boolean)
    ("{v}:P", lambda b, v: "P" in NODES[b[v]][0]),
    ("{v}:Q", lambda b, v: "Q" in NODES[b[v]][0]),
    ("NOT ({v}:P)", lambda b, v: "P" not in NODES[b[v]][0]),
]

where_spec = st.one_of(
    st.none(),
    st.tuples(st.sampled_from(_PREDS), st.integers(0, 2)),
    st.tuples(
        st.sampled_from(_PREDS), st.integers(0, 2),
        st.sampled_from(("AND", "OR")),
        st.sampled_from(_PREDS), st.integers(0, 2),
    ),
)

query_spec = st.tuples(
    n_hops,
    st.lists(node_spec, min_size=4, max_size=4),
    st.lists(rel_spec, min_size=3, max_size=3),
    where_spec,
    # 0: global count(*); 1: projected ids; 2: grouped count per
    # first endpoint (implicit grouping); 3: carried-node WITH
    # aggregation pipeline (WITH a, count(*) AS n ... RETURN a.name)
    st.integers(0, 3),
)


def _build(spec):
    hops, nspecs, rspecs, wspec, grouped = spec
    vars_ = ["a", "b", "c", "d"][: hops + 1]
    node_specs = [
        (v, list(nspecs[i][0]), list(nspecs[i][1]))
        for i, v in enumerate(vars_)
    ]
    rel_specs = [rspecs[i] for i in range(hops)]

    pat_txt = ""
    for i, (v, labels, props) in enumerate(node_specs):
        seg = v + "".join(f":{lb}" for lb in labels)
        if props:
            kv = ", ".join(
                f"{k}: {val!r}" if isinstance(val, str) else f"{k}: {val}"
                for k, val in props
            )
            seg += f" {{{kv}}}"
        pat_txt += f"({seg})"
        if i < len(rel_specs):
            rtype, direction = rel_specs[i]
            rel = f"[:{rtype}]" if rtype else ""
            if direction == "->":
                pat_txt += f"-{rel}->"
            elif direction == "<-":
                pat_txt += f"<-{rel}-"
            else:
                pat_txt += f"-{rel}-"

    where_txt, where_fn = None, None
    if wspec is not None:
        if len(wspec) == 2:
            (fmt, fn), vi = wspec
            v = vars_[vi % len(vars_)]
            where_txt = fmt.format(v=v)
            where_fn = lambda b, fn=fn, v=v: fn(b, v)
        else:
            (f1, fn1), vi1, op, (f2, fn2), vi2 = wspec
            v1, v2 = vars_[vi1 % len(vars_)], vars_[vi2 % len(vars_)]
            where_txt = f"({f1.format(v=v1)}) {op} ({f2.format(v=v2)})"

            def where_fn(b, fn1=fn1, v1=v1, fn2=fn2, v2=v2, op=op):
                x, y = fn1(b, v1), fn2(b, v2)
                if op == "AND":
                    if x is False or y is False:
                        return False
                    if x is None or y is None:
                        return None
                    return True
                if x is True or y is True:
                    return True
                if x is None or y is None:
                    return None
                return False

    proj_vars = vars_
    q = f"MATCH {pat_txt} "
    if where_txt:
        q += f"WHERE {where_txt} "
    if grouped == 0:
        q += "RETURN count(*) AS n"
    elif grouped == 2:
        # implicit grouping by the first endpoint
        q += "RETURN id(a) AS ia, count(*) AS n ORDER BY ia"
    elif grouped == 3:
        # carried-node WITH pipeline: property access restored after
        # the aggregation (names are unique per fixture node)
        q += "WITH a, count(*) AS n RETURN a.name AS nm, n ORDER BY nm"
    else:
        items = ", ".join(f"id({v}) AS i{v}" for v in proj_vars)
        order = ", ".join(f"i{v}" for v in proj_vars)
        q += f"RETURN {items} ORDER BY {order}"

    return q, (node_specs, rel_specs), where_fn, grouped, proj_vars


@pytest.fixture(scope="module")
def fixture_views(spark):
    nodes = spark.createDataFrame(
        [(i, l, n, a) for i, (l, n, a) in NODES.items()],
        "ID long, LABELS array<string>, name string, age long",
    )
    rels = spark.createDataFrame(
        [(i, *e) for i, e in enumerate(EDGES)],
        "REL_ID long, START_ID long, END_ID long, TYPE string, w double",
    )
    nodes.createOrReplaceTempView("sfznodes")
    rels.createOrReplaceTempView("sfzrels")
    return spark


@settings(
    max_examples=fuzz_examples(120),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(spec=query_spec)
def test_transpiled_matches_reference_semantics(fixture_views, spec):
    spark = fixture_views
    q, pattern, where_fn, grouped, proj_vars = _build(spec)
    expected_bindings = ref_match(pattern, where_fn)

    sql = cypher_to_sql(q, "sfznodes", "sfzrels", rel_id=True)
    got = [tuple(r) for r in spark.sql(sql).collect()]

    if grouped == 0:
        # engine convention matches Cypher: count(*) with no grouping
        # key returns ONE row even for zero matches
        assert len(got) == 1, f"{q}\n{sql}"
        assert got[0][0] == len(expected_bindings), (
            f"count mismatch: engine {got[0][0]} vs "
            f"reference {len(expected_bindings)}\n{q}\n{sql}"
        )
    elif grouped == 2:
        from collections import Counter

        want = sorted(Counter(b["a"] for b in expected_bindings).items())
        assert got == want, (
            f"group mismatch\nengine    {got}\nreference {want}\n{q}\n{sql}"
        )
    elif grouped == 3:
        from collections import Counter

        want = sorted(
            Counter(NODES[b["a"]][1] for b in expected_bindings).items()
        )
        assert got == want, (
            f"carried-with mismatch\nengine    {got}\n"
            f"reference {want}\n{q}\n{sql}"
        )
    else:
        want = sorted(
            tuple(b[v] for v in proj_vars) for b in expected_bindings
        )
        assert got == want, (
            f"row mismatch\nengine    {got}\nreference {want}\n{q}\n{sql}"
        )


# -- OPTIONAL MATCH fuzz ------------------------------------------------------
#
# The optional emission is the most intricate (ONE nested parenthesized
# LEFT join for all-or-nothing clause semantics, uniqueness predicates
# in the ON clause) — fuzz it against the same reference evaluator:
# for each main binding, enumerate the optional chain's bindings
# (rel-uniqueness scoped to the OPTIONAL clause alone, per openCypher);
# zero matches null-extend every optional variable together.

opt_spec = st.tuples(
    st.sampled_from(("a", "b")),            # anchor: which main var
    st.integers(min_value=1, max_value=2),  # optional chain hops
    st.lists(rel_spec, min_size=2, max_size=2),
    st.lists(node_spec, min_size=2, max_size=2),
)

opt_query_spec = st.tuples(
    st.lists(node_spec, min_size=2, max_size=2),  # main (a)-[...]-(b)
    rel_spec,
    st.one_of(st.none(), st.tuples(st.sampled_from(_PREDS), st.integers(0, 1))),
    opt_spec,
)


def _build_optional(spec):
    mnspecs, mrspec, wspec, (anchor, ohops, orspecs, onspecs) = spec
    main_nodes = [
        ("a", list(mnspecs[0][0]), list(mnspecs[0][1])),
        ("b", list(mnspecs[1][0]), list(mnspecs[1][1])),
    ]
    main_rels = [mrspec]
    ovars = ["x", "y"][:ohops]
    opt_nodes = [(anchor, [], [])] + [
        (v, list(onspecs[i][0]), list(onspecs[i][1]))
        for i, v in enumerate(ovars)
    ]
    opt_rels = [orspecs[i] for i in range(ohops)]

    def seg(nv, labels, props):
        s = nv + "".join(f":{lb}" for lb in labels)
        if props:
            kv = ", ".join(
                f"{k}: {val!r}" if isinstance(val, str) else f"{k}: {val}"
                for k, val in props
            )
            s += f" {{{kv}}}"
        return f"({s})"

    def rel_txt(rtype, direction):
        rel = f"[:{rtype}]" if rtype else ""
        if direction == "->":
            return f"-{rel}->"
        if direction == "<-":
            return f"<-{rel}-"
        return f"-{rel}-"

    pat = (
        seg(*main_nodes[0]) + rel_txt(*main_rels[0]) + seg(*main_nodes[1])
    )
    # anchor occurrence in OPTIONAL carries no labels/props (engine rule)
    opat = "(%s)" % anchor
    for i, (v, labels, props) in enumerate(opt_nodes[1:]):
        opat += rel_txt(*opt_rels[i]) + seg(v, labels, props)

    where_txt, where_fn = None, None
    if wspec is not None:
        (fmt, fn), vi = wspec
        v = ["a", "b"][vi % 2]
        where_txt = fmt.format(v=v)
        where_fn = lambda b, fn=fn, v=v: fn(b, v)

    q = f"MATCH {pat} "
    if where_txt:
        q += f"WHERE {where_txt} "
    q += f"OPTIONAL MATCH {opat} "
    items = ["id(a) AS ia", "id(b) AS ib"] + [
        f"id({v}) AS i{v}" for v in ovars
    ]
    order = ["ia", "ib"] + [f"i{v}" for v in ovars]
    q += f"RETURN {', '.join(items)} ORDER BY {', '.join(order)}"
    return q, (main_nodes, main_rels), where_fn, (opt_nodes, opt_rels), ovars


@settings(
    max_examples=fuzz_examples(100),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(spec=opt_query_spec)
def test_optional_match_reference_semantics(fixture_views, spec):
    spark = fixture_views
    q, main_pat, where_fn, opt_pat, ovars = _build_optional(spec)
    main_bindings = ref_match(main_pat, where_fn)

    expected = []
    opt_nodes, opt_rels = opt_pat
    for mb in main_bindings:
        # optional chain anchored on the bound main var: seed the
        # evaluator's binding with the anchor id (uniqueness scope is
        # the OPTIONAL clause alone)
        anchor = opt_nodes[0][0]
        sub = ref_match((opt_nodes, opt_rels), None)
        rows = [
            s for s in sub if s[anchor] == mb[anchor]
        ]
        if rows:
            for s in rows:
                expected.append(
                    (mb["a"], mb["b"]) + tuple(s[v] for v in ovars)
                )
        else:
            expected.append((mb["a"], mb["b"]) + (None,) * len(ovars))

    sql = cypher_to_sql(q, "sfznodes", "sfzrels", rel_id=True)
    got = [tuple(r) for r in spark.sql(sql).collect()]
    keyf = lambda row: tuple((v is None, v) for v in row)  # nulls largest
    assert sorted(got, key=keyf) == sorted(expected, key=keyf), (
        f"optional mismatch\nengine    {sorted(got, key=keyf)}\n"
        f"reference {sorted(expected, key=keyf)}\n{q}\n{sql}"
    )


# -- CALL { } subquery fuzz (r7) -----------------------------------------------
#
# The call emission has three forms (flat join / keyed derived table /
# cross join); fuzz the two correlated ones against the evaluator: for
# each main binding, enumerate the body chain's bindings anchored on
# the imported variable (rel-uniqueness scoped to the body alone —
# openCypher: CALL is its own clause scope). Flat mode checks per-row
# multiplicity; agg mode checks the one-row-per-input-row rule
# including count(*) = 0 on zero matches (the LEFT-join + coalesce
# path).

call_query_spec = st.tuples(
    st.lists(node_spec, min_size=2, max_size=2),   # main (a)-(b)
    rel_spec,
    st.integers(min_value=1, max_value=2),         # body chain hops
    st.lists(rel_spec, min_size=2, max_size=2),
    st.lists(node_spec, min_size=2, max_size=2),
    st.one_of(
        st.none(), st.tuples(st.sampled_from(_PREDS), st.integers(0, 1))
    ),                                             # body WHERE over x/y
    st.integers(0, 1),                             # 0 flat, 1 pure-agg
)


def _build_call(spec):
    mnspecs, mrspec, chops, crspecs, cnspecs, cwspec, mode = spec
    main_nodes = [
        ("a", list(mnspecs[0][0]), list(mnspecs[0][1])),
        ("b", list(mnspecs[1][0]), list(mnspecs[1][1])),
    ]
    main_rels = [mrspec]
    cvars = ["x", "y"][:chops]
    call_nodes = [("a", [], [])] + [
        (v, list(cnspecs[i][0]), list(cnspecs[i][1]))
        for i, v in enumerate(cvars)
    ]
    call_rels = [crspecs[i] for i in range(chops)]

    def seg(nv, labels, props):
        s = nv + "".join(f":{lb}" for lb in labels)
        if props:
            kv = ", ".join(
                f"{k}: {val!r}" if isinstance(val, str) else f"{k}: {val}"
                for k, val in props
            )
            s += f" {{{kv}}}"
        return f"({s})"

    def rel_txt(rtype, direction):
        rel = f"[:{rtype}]" if rtype else ""
        if direction == "->":
            return f"-{rel}->"
        if direction == "<-":
            return f"<-{rel}-"
        return f"-{rel}-"

    pat = seg(*main_nodes[0]) + rel_txt(*main_rels[0]) + seg(*main_nodes[1])
    cpat = "(a)"
    for i, (v, labels, props) in enumerate(call_nodes[1:]):
        cpat += rel_txt(*call_rels[i]) + seg(v, labels, props)

    cwhere_txt, cwhere_fn = None, None
    if cwspec is not None:
        (fmt, fn), vi = cwspec
        v = cvars[vi % len(cvars)]
        cwhere_txt = fmt.format(v=v)
        cwhere_fn = lambda b, fn=fn, v=v: fn(b, v)

    q = f"MATCH {pat} CALL {{ WITH a MATCH {cpat} "
    if cwhere_txt:
        q += f"WHERE {cwhere_txt} "
    if mode == 1:
        q += "RETURN count(*) AS n } "
        q += "RETURN id(a) AS ia, id(b) AS ib, n ORDER BY ia, ib, n"
    else:
        items = ", ".join(f"id({v}) AS i{v}" for v in cvars)
        q += f"RETURN {items} }} "
        tail = ", ".join(f"i{v}" for v in cvars)
        q += f"RETURN id(a) AS ia, id(b) AS ib, {tail} ORDER BY ia, ib, {tail}"
    return q, (main_nodes, main_rels), (call_nodes, call_rels), cwhere_fn, cvars, mode


@settings(
    max_examples=fuzz_examples(100),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(spec=call_query_spec)
def test_call_subquery_reference_semantics(fixture_views, spec):
    spark = fixture_views
    q, main_pat, call_pat, cwhere_fn, cvars, mode = _build_call(spec)
    main_bindings = ref_match(main_pat, None)
    sub_all = ref_match(call_pat, cwhere_fn)

    expected = []
    for mb in main_bindings:
        rows = [s for s in sub_all if s["a"] == mb["a"]]
        if mode == 1:
            expected.append((mb["a"], mb["b"], len(rows)))
        else:
            for s in rows:
                expected.append(
                    (mb["a"], mb["b"]) + tuple(s[v] for v in cvars)
                )

    sql = cypher_to_sql(q, "sfznodes", "sfzrels", rel_id=True)
    got = [tuple(r) for r in spark.sql(sql).collect()]
    assert sorted(got) == sorted(expected), (
        f"call mismatch\nengine    {sorted(got)}\n"
        f"reference {sorted(expected)}\n{q}\n{sql}"
    )


# -- bounded varlength fuzz (r7) -----------------------------------------------
#
# The branch-union emission (*1..2 -> a 1-hop chain UNION ALL a 2-hop
# chain) is fuzzed against the evaluator under the ENGINE'S documented
# varlength semantics: walks, with NO per-path edge-uniqueness inside
# the segment (openCypher would forbid reusing an edge within one
# path; on this fixture the two differ only for undirected backtracks
# a-e-b-e-a, since there are no self-loops). Both count(*) walk
# multiplicity and DISTINCT reachability shapes are checked.

vl_query_spec = st.tuples(
    st.lists(node_spec, min_size=2, max_size=2),   # endpoints a, b
    st.sampled_from(_TYPES),
    st.sampled_from(_DIRS),
    st.one_of(
        st.none(), st.tuples(st.sampled_from(_PREDS), st.integers(0, 1))
    ),
    st.integers(0, 1),                             # 0 walk counts, 1 distinct
)


def _vl_walks(rtype, direction, a_ok, b_ok):
    """All (a, b) endpoint pairs of 1- and 2-hop edge-unique PATHS
    (r8 engine semantics: per-path relationship uniqueness, identity =
    the physical row CONTENT — triple + every property — so
    exact-duplicate twins conflate within one path; the documented
    residual divergence from openCypher's row identity, pinned here:
    the fixture's duplicated (2,3,K,2.0) pair can contribute only one
    hop per path)."""
    def steps(frm=None):
        for e in EDGES:
            s, t, ty, w = e
            key = (s, t, ty, w)
            if rtype and ty != rtype:
                continue
            if direction in ("->", "-") and (frm is None or s == frm):
                yield s, t, key
            if direction in ("<-", "-"):
                # <- flips the traversal; '-' walks both ways
                if direction == "<-":
                    if frm is None or t == frm:
                        yield t, s, key
                elif frm is None or t == frm:
                    yield t, s, key

    out = []
    for a, m, k1 in steps():
        if a_ok(a) and b_ok(m):
            out.append((a, m))
        for m2, b, k2 in steps(frm=m):
            if k2 == k1:
                continue  # per-path edge uniqueness (content identity)
            if a_ok(a) and b_ok(b):
                out.append((a, b))
    return out


@settings(
    max_examples=fuzz_examples(80),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(spec=vl_query_spec)
def test_bounded_varlength_reference_semantics(fixture_views, spec):
    spark = fixture_views
    (aspec, bspec), rtype, direction, wspec, mode = spec[0], spec[1], spec[2], spec[3], spec[4]

    def seg(nv, labels, props):
        s = nv + "".join(f":{lb}" for lb in labels)
        if props:
            kv = ", ".join(
                f"{k}: {val!r}" if isinstance(val, str) else f"{k}: {val}"
                for k, val in props
            )
            s += f" {{{kv}}}"
        return f"({s})"

    rel = f"[:{rtype}*1..2]" if rtype else "[*1..2]"
    if direction == "->":
        arrow = f"-{rel}->"
    elif direction == "<-":
        arrow = f"<-{rel}-"
    else:
        arrow = f"-{rel}-"
    pat = seg("a", list(aspec[0]), list(aspec[1])) + arrow + seg(
        "b", list(bspec[0]), list(bspec[1])
    )

    where_txt, where_fn = None, None
    if wspec is not None:
        (fmt, fn), vi = wspec
        v = ["a", "b"][vi % 2]
        where_txt = fmt.format(v=v)
        where_fn = lambda bind, fn=fn, v=v: fn(bind, v)

    q = f"MATCH {pat} "
    if where_txt:
        q += f"WHERE {where_txt} "
    if mode == 0:
        q += "RETURN id(a) AS ia, id(b) AS ib, count(*) AS n ORDER BY ia, ib"
    else:
        q += "RETURN DISTINCT id(a) AS ia, id(b) AS ib ORDER BY ia, ib"

    a_ok = lambda n: _node_ok(n, list(aspec[0]), list(aspec[1]))
    b_ok = lambda n: _node_ok(n, list(bspec[0]), list(bspec[1]))
    pairs = _vl_walks(rtype, direction, a_ok, b_ok)
    if where_fn is not None:
        pairs = [
            (a, b) for a, b in pairs if where_fn({"a": a, "b": b}) is True
        ]

    # rel_props=["w"] matches api.cypher's wiring: per-path edge
    # identity compares the full row content (triple + props)
    sql = cypher_to_sql(q, "sfznodes", "sfzrels", rel_id=True, rel_props=["w"])
    got = [tuple(r) for r in spark.sql(sql).collect()]
    if mode == 0:
        from collections import Counter

        want = sorted((a, b, c) for (a, b), c in Counter(pairs).items())
    else:
        want = sorted(set(pairs))
    assert got == want, (
        f"varlength mismatch\nengine    {got}\nreference {want}\n{q}\n{sql}"
    )

"""Golden test: the reference's documented 2-hop example (KHOP.md:4-150,
fixture reproduced in FIXTURES.md F3)."""

from __future__ import annotations

import re

import pytest

from conftest import register_users, spark_jobs
from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.operators.khop import khop, khop_flat

EDGES = [(0, 1), (0, 2), (0, 3), (1, 0), (1, 2), (1, 3), (4, 1), (5, 4)]

EXPECTED = {
    0: {(0, 1), (1, 0), (1, 2), (1, 3), (4, 1), (0, 2), (0, 3)},
    1: {(1, 0), (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (4, 1), (5, 4)},
    2: {(0, 1), (0, 2), (0, 3), (1, 0), (1, 2), (1, 3), (4, 1)},
    3: {(0, 1), (0, 2), (0, 3), (1, 0), (1, 2), (1, 3), (4, 1)},
    4: {(4, 1), (1, 0), (1, 2), (1, 3), (0, 1), (5, 4)},
    5: {(5, 4), (4, 1)},
}


@pytest.fixture(scope="module")
def golden(spark):
    nodes = spark.createDataFrame(
        [(i, ["User"]) for i in range(6)], "ID long, LABELS array<string>"
    )
    rels = spark.createDataFrame(
        [(s, d, "FOLLOWS", 1.0) for s, d in EDGES],
        "START_ID long, END_ID long, TYPE string, weight double",
    )
    return nodes, rels


def test_khop_flat_golden(golden):
    nodes, rels = golden
    out = khop_flat(nodes, rels)
    got: dict[int, set] = {}
    for r in out.collect():
        got.setdefault(r.origin, set()).add((r.src, r.dst))
    assert got == EXPECTED


def test_khop_wire_shape_and_chunking(golden):
    nodes, rels = golden
    out = khop(nodes, rels, list_size=3)
    assert out.columns == ["_origin_id_", "_source_ids_", "_target_ids_"]
    flattened: dict[int, set] = {}
    for r in out.collect():
        assert len(r._source_ids_) == len(r._target_ids_) <= 3
        flattened.setdefault(r._origin_id_, set()).update(
            zip(r._source_ids_, r._target_ids_)
        )
    assert flattened == EXPECTED


def test_khop_type_filter(golden):
    nodes, rels = golden
    # no edges of that type -> empty result, no error
    assert khop_flat(nodes, rels, filters=["NOPE"]).count() == 0


def test_khop_dedups_parallel_edges(spark):
    nodes = spark.createDataFrame([(i, ["U"]) for i in range(2)], "ID long, LABELS array<string>")
    rels = spark.createDataFrame(
        [(0, 1, "A", 1.0), (0, 1, "A", 2.0), (0, 1, "B", 3.0)],
        "START_ID long, END_ID long, TYPE string, weight double",
    )
    out = khop_flat(nodes, rels)
    got = {}
    for r in out.collect():
        got.setdefault(r.origin, set()).add((r.src, r.dst))
    assert got == {0: {(0, 1)}, 1: {(0, 1)}}


def _py_khop(edges, origins, k):
    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    out = {}
    for o in origins:
        members = {o}
        for _ in range(k - 1):
            members = members | {m for x in members for m in nbrs.get(x, ())}
        es = {(s, d) for (s, d) in edges if s in members or d in members}
        if es:
            out[o] = es
    return out


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_khop_general_k_matches_python_oracle(golden, k):
    nodes, rels = golden
    got = {}
    for r in khop_flat(nodes, rels, k=k).collect():
        got.setdefault(r.origin, set()).add((r.src, r.dst))
    assert got == _py_khop(EDGES, set(range(6)), k)


def test_khop_k1_is_incident_edges(golden):
    nodes, rels = golden
    got = {}
    for r in khop_flat(nodes, rels, k=1).collect():
        got.setdefault(r.origin, set()).add((r.src, r.dst))
    assert got[5] == {(5, 4)}
    assert got[0] == {(0, 1), (0, 2), (0, 3), (1, 0)}


def test_khop_invalid_k(golden):
    nodes, rels = golden
    with pytest.raises(ValueError):
        khop_flat(nodes, rels, k=0)


def test_khop_node_id_remap(spark):
    """Client parity: khop(node_id=...) substitutes a node property for
    every exported id (origin and the pair lists)."""
    from neo4j_arrow_spark.operators.khop import khop

    nodes = spark.createDataFrame(
        [(1, ["N"], 101), (2, ["N"], 102), (3, ["N"], 103)],
        "ID long, LABELS array<string>, alt long",
    )
    rels = spark.createDataFrame(
        [(1, 2, "E"), (2, 3, "E")], "START_ID long, END_ID long, TYPE string"
    )
    out = khop(nodes, rels, node_id="alt").collect()
    ids = {r._origin_id_ for r in out}
    flat = {
        x for r in out for x in list(r._source_ids_) + list(r._target_ids_)
    }
    assert ids <= {101, 102, 103}
    assert flat <= {101, 102, 103}


def test_khop_node_id_remap_k2_exact(spark):
    """Remap correctness at k=2 against the identity-shifted property:
    the remapped flat set must equal the plain flat set shifted by +100
    on every column (regression for the remap-before-expand plan)."""
    from neo4j_arrow_spark.operators.khop import khop_flat

    nodes = spark.createDataFrame(
        [(i, ["N"], i + 100) for i in range(6)],
        "ID long, LABELS array<string>, alt long",
    )
    rels = spark.createDataFrame(
        [(0, 1, "E"), (1, 2, "E"), (2, 3, "E"), (3, 4, "E"), (4, 5, "E")],
        "START_ID long, END_ID long, TYPE string",
    )
    plain = {
        (r.origin, r.src, r.dst) for r in khop_flat(nodes, rels, k=2).collect()
    }
    remapped = {
        (r.origin, r.src, r.dst)
        for r in khop_flat(nodes, rels, k=2, node_id="alt").collect()
    }
    assert remapped == {(o + 100, s + 100, d + 100) for o, s, d in plain}


def test_khop_node_id_remap_k2_missing_property_fails(spark):
    """A referenced endpoint whose remap property is NULL fails the job
    (NOT_FOUND parity, GdsReadJob.java:281-283) — also at k=2, where the
    remap now rides the edge/member frames instead of the output."""
    from neo4j_arrow_spark.operators.khop import khop

    nodes = spark.createDataFrame(
        [(1, ["N"], 101), (2, ["N"], None), (3, ["N"], 103)],
        "ID long, LABELS array<string>, alt long",
    )
    rels = spark.createDataFrame(
        [(1, 2, "E"), (2, 3, "E")], "START_ID long, END_ID long, TYPE string"
    )
    with pytest.raises(Exception, match="missing or non-integral"):
        khop(nodes, rels, k=2, node_id="alt").collect()


#: self-loops (single, parallel, and parallel across types), a reversed
#: pair, parallel edges, two types and an isolated node (7)
MIXED_EDGES = [
    (0, 1, "A"), (0, 1, "A"), (1, 0, "A"), (1, 2, "A"),
    (2, 2, "A"), (2, 2, "A"), (2, 2, "B"), (2, 3, "B"),
    (3, 4, "A"), (4, 4, "A"), (4, 5, "B"), (5, 6, "A"), (6, 5, "A"),
]
MIXED_SUBSET = [0, 2, 4, 7]


def _model(edge_rows, types, origins, k):
    """The k-hop edge sets of the distinct (src, dst) edges whose type is
    in ``types`` (all when None), for each origin."""
    edges = {(s, d) for s, d, t in edge_rows if types is None or t in types}
    return _py_khop(edges, origins, k)


@pytest.fixture(scope="module")
def mixed(spark):
    nodes = spark.createDataFrame(
        [(i, ["N"], 1000 - i) for i in range(8)],
        "ID long, LABELS array<string>, alt long",
    )
    rels = spark.createDataFrame(
        MIXED_EDGES, "START_ID long, END_ID long, TYPE string"
    )
    return nodes, rels


@pytest.mark.parametrize("mode", ["all", "node_id", "subset"])
@pytest.mark.parametrize("filters", [None, ["A"]], ids=["any", "A"])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_khop_exact_on_loops_and_duplicates(mixed, k, filters, mode):
    """Every edge set equals the model's: a self-loop or parallel edge
    appears once, and a reversed pair is two edges."""
    nodes, rels = mixed
    origins = set(range(8))
    if mode == "subset":
        nodes = nodes.filter(nodes.ID.isin(MIXED_SUBSET))
        origins = set(MIXED_SUBSET)
    out = khop_flat(
        nodes, rels, filters, origins_complete=mode != "subset", k=k,
        node_id="alt" if mode == "node_id" else None,
    )
    got: dict[int, set] = {}
    for r in out.collect():
        got.setdefault(r.origin, set()).add((r.src, r.dst))
    want = _model(MIXED_EDGES, filters, origins, k)
    if mode == "node_id":
        want = {
            1000 - o: {(1000 - s, 1000 - d) for s, d in es}
            for o, es in want.items()
        }
    assert got == want


@pytest.mark.parametrize("node_id", [None, "alt"])
def test_khop_null_endpoint_fails_naming_the_edge(spark, node_id):
    """An edge with a NULL endpoint is no edge of a graph (a registered
    graph refuses it): the k-hop fails and names it, with or without a
    remap (a remap used to fail with the bare message "null")."""
    nodes = spark.createDataFrame(
        [(i, ["N"], 100 + i) for i in (1, 2, 3)],
        "ID long, LABELS array<string>, alt long",
    )
    rels = spark.createDataFrame(
        [(1, 2, "E"), (2, None, "E"), (None, 3, "E"), (3, 3, "E")],
        "START_ID long, END_ID long, TYPE string",
    )
    with pytest.raises(
        Exception, match=r"khop: edge \((2, null|null, 3)\) has a NULL endpoint"
    ):
        khop(nodes, rels, node_id=node_id).collect()


#: Spark jobs of a k-hop with a remap after a write on the 40-user graph
#: (``register_users``, plus a self-loop and an edge of another type).
#: Measured on a 4-core machine: 15-17 over 15 runs (AQE's
#: re-planning varies it), 20-21 when each branch planned its own edge
#: dedup
KHOP_JOBS = 18


def _edge_exchanges(df) -> list[str]:
    """The (src, dst) exchanges of ``df``'s executed plan that are not
    reuses of another."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return [
        line for line in final.splitlines()
        if re.search(r"\bExchange hashpartitioning\(src#\d+L?, dst#\d+L?,", line)
        and "ReusedExchange" not in line
    ]


def test_khop_builds_its_edge_frame_once(spark):
    """Every branch of the expansion reads one (src, dst) dedup
    exchange, also on a graph a write has committed."""
    api = Neo4jArrowSpark(spark)
    register_users(api, "khopjobs", [(5, 5, "FOLLOWS"), (6, 7, "OTHER")])
    try:
        api.cypher(
            "UNWIND $batch AS row MERGE (n:User {uid: row.uid}) "
            "ON CREATE SET n.score = row.s",
            graph="khopjobs",
            params={"batch": [{"uid": u, "s": 0.5} for u in range(30, 50)]},
        ).result(120).collect()
        done = []
        jobs = spark_jobs(spark, lambda: done.append(
            api.khop("khopjobs", filters=["FOLLOWS"], node_id="uid").result(120)
        ) or done.append(done[0].collect()))
        assert len(done[1]) == 40
        assert len(jobs) <= KHOP_JOBS
        assert len(_edge_exchanges(done[0])) == 1
    finally:
        api.catalog.drop("khopjobs")

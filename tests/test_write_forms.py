"""The write forms agree: each effect (node SET, DETACH DELETE, node
CREATE, relationship CREATE/MERGE) run through every statement form
that supports it leaves the same graph and reports the same counters —
except where a form's documented rule differs, which the expected
counters below pin. Also pins the Spark jobs of the benchmark's two
write shapes.
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import CypherSyntaxError, CypherUnsupported
from neo4j_arrow_spark.cypher_write import _sql_in
from conftest import register_users, spark_jobs

GRAPH = "wforms"


@pytest.fixture()
def fapi(spark):
    """Nodes 1-3 (names b, a, c) and edges (1,2), (2,3), (1,3) and the
    self-loop (3,3)."""
    api = Neo4jArrowSpark(spark)

    def reset():
        nodes = spark.createDataFrame(
            [(1, ["P"], "b", 10), (2, ["P"], "a", 20), (3, ["Q"], "c", 30)],
            "ID long, LABELS array<string>, name string, v long",
        )
        rels = spark.createDataFrame(
            [(1, 2, "K", 1.0), (2, 3, "K", 2.0), (1, 3, "K", 3.0),
             (3, 3, "K", 4.0)],
            "START_ID long, END_ID long, TYPE string, w double",
        )
        api.catalog.register(GRAPH, nodes, rels, overwrite=True)

    api.reset = reset
    reset()
    yield api
    api.catalog.drop(GRAPH)


def _state(api):
    """The graph's sorted node and relationship rows (identity columns
    minted by the catalog left out)."""
    g = api.catalog.get(GRAPH)

    def rows(df):
        cols = sorted(c for c in df.columns if c not in ("REL_ID", "REL_ID2"))
        return sorted(
            (tuple(r) for r in df.select(*cols).collect()), key=repr
        ), cols

    return rows(g.nodes), rows(g.rels)


#: effect -> [(form, query, params, counters row)]; counters are (op,
#: nodes_created, props_set, nodes_deleted, rels_deleted, rels_created)
EFFECTS = {
    "node_set": [
        ("general", "MATCH (n:P) WHERE n.ID >= 1 SET n.x = 7", None,
         ("set", 0, 2, 0, 0, 0)),
        # batch SET: the last row per node wins
        ("batch", "UNWIND $b AS row MATCH (n:P {ID: row.id}) SET n.x = row.x",
         {"b": [{"id": 1, "x": 1}, {"id": 1, "x": 7}, {"id": 2, "x": 7}]},
         ("set", 0, 2, 0, 0, 0)),
        ("pipeline", "MATCH (n:P) WITH n WHERE n.ID >= 1 SET n.x = 7", None,
         ("set", 0, 2, 0, 0, 0)),
    ],
    "detach_delete": [
        ("general", "MATCH (n) WHERE n.ID > 1 DETACH DELETE n", None,
         ("delete", 0, 0, 2, 4, 0)),
        ("batch", "UNWIND $b AS row MATCH (n {ID: row.i}) DETACH DELETE n",
         {"b": [{"i": 2}, {"i": 3}]}, ("delete", 0, 0, 2, 4, 0)),
        ("pipeline", "MATCH (n) WHERE n.ID > 1 WITH n DETACH DELETE n", None,
         ("delete", 0, 0, 2, 4, 0)),
    ],
    "node_create": [
        # ids above max(ID), in pattern order / batch order / (pipeline)
        # the rows' value order
        ("literal", "CREATE (x:C {name: 'a'}), (y:C {name: 'b'})", None,
         ("create", 2, 2, 0, 0, 0)),
        ("batch", "UNWIND $b AS row CREATE (x:C {name: row.nm})",
         {"b": [{"nm": "a"}, {"nm": "b"}]}, ("create", 2, 2, 0, 0, 0)),
        ("pipeline",
         "MATCH (n:P) WITH n.name AS nm CREATE (x:C {name: nm})", None,
         ("create", 2, 2, 0, 0, 0)),
    ],
    "rel_create": [
        # both forms count the created edge's non-NULL pattern-map values
        ("match",
         "MATCH (a {ID: 2}), (b {ID: 1}) CREATE (a)-[:T {w: 1.5}]->(b)",
         None, ("create_rel", 0, 1, 0, 0, 1)),
        ("batch",
         "UNWIND $b AS row MATCH (a {ID: row.s}), (b {ID: row.d}) "
         "CREATE (a)-[:T {w: row.w}]->(b)",
         {"b": [{"s": 2, "d": 1, "w": 1.5}]},
         ("create_rel", 0, 1, 0, 0, 1)),
    ],
    "rel_merge": [
        # (1,2) matches and (2,1) is created
        ("match",
         "MATCH (a), (b) WHERE a.ID + b.ID = 3 MERGE (a)-[r:K]->(b) "
         "ON CREATE SET r.w = 5.0 ON MATCH SET r.w = 5.0",
         None, ("merge_rel", 0, 2, 0, 0, 1)),
        ("batch",
         "UNWIND $b AS row MATCH (a {ID: row.s}), (b {ID: row.d}) "
         "MERGE (a)-[r:K]->(b) ON CREATE SET r.w = row.w "
         "ON MATCH SET r.w = row.w",
         {"b": [{"s": 1, "d": 2, "w": 5.0}, {"s": 2, "d": 1, "w": 5.0}]},
         ("merge_rel", 0, 2, 0, 0, 1)),
    ],
}


@pytest.mark.parametrize("effect", sorted(EFFECTS))
def test_write_forms_agree(fapi, effect):
    states = {}
    for form, query, params, counters in EFFECTS[effect]:
        fapi.reset()
        row = fapi.cypher(query, graph=GRAPH, params=params).result(120)
        assert tuple(row.collect()[0]) == counters, form
        states[form] = _state(fapi)
    first, *rest = states.values()
    for form, state in zip(list(states)[1:], rest):
        assert state == first, form


def test_pipeline_detach_delete_counts_each_edge_once(fapi):
    # (2,3) joins two deleted nodes and (3,3) is a self-loop: each is
    # one deleted relationship
    s = fapi.cypher(
        "MATCH (n) WHERE n.ID > 1 WITH n DETACH DELETE n", graph=GRAPH
    ).result(120).collect()[0]
    assert (s.nodes_deleted, s.rels_deleted) == (2, 4)
    (_nodes, (rels, _cols)) = _state(fapi)
    assert rels == []


@pytest.mark.parametrize("props", ["{ID: row.i + 100}", "{k: row.i * 2}"])
def test_batch_create_reference_is_the_whole_value(fapi, props):
    """A batch reference that opens a node's map value stands for the
    element's literal, as in a literal CREATE: an expression built on
    it is refused at submit, and nothing is written."""
    before = _state(fapi)
    with pytest.raises(CypherSyntaxError, match="expected '}'"):
        fapi.cypher(
            f"UNWIND $b AS row CREATE (a:L {props}), (b:M)",
            graph=GRAPH,
            params={"b": [{"i": i} for i in range(4)]},
        ).result(120)
    assert _state(fapi) == before


@pytest.fixture()
def uapi(spark):
    """The benchmark's write shapes on a 40-user graph."""
    api = Neo4jArrowSpark(spark)
    register_users(api, "wjobs")
    yield api
    api.catalog.drop("wjobs")


#: Spark jobs per write of the benchmark's shapes on ``uapi``: the batch
#: MERGE reads the graph in one job, and neither write's counters row
#: runs a job
WRITE_JOBS = [
    (
        "merge",
        "UNWIND $batch AS row MERGE (n:User {uid: row.uid}) "
        "ON CREATE SET n.score = row.s ON MATCH SET n.score = row.s",
        {"batch": [{"uid": u, "s": u / 2} for u in range(30, 50)]},
        6,
    ),
    (
        "create",
        "MATCH (a:User {uid: $a}), (b:User {uid: $b}) "
        "CREATE (a)-[:FOLLOWS]->(b)",
        {"a": 3, "b": 5},
        5,
    ),
]


#: Spark jobs per one-row batch MATCH write on ``uapi``, its counters
#: fetch included: at most what the separate batch node and batch rel
#: forms ran
BATCH_MATCH_JOBS = [
    (
        "rel_create",
        "UNWIND $b AS row MATCH (a:User {uid: row.s}), (b:User {uid: row.d}) "
        "CREATE (a)-[:FOLLOWS {w: row.w}]->(b)",
        {"b": [{"s": 3, "d": 5, "w": 1.5}]},
        8,
    ),
    (
        "rel_merge",
        "UNWIND $b AS row MATCH (a:User {uid: row.s}), (b:User {uid: row.d}) "
        "MERGE (a)-[r:FOLLOWS]->(b) ON CREATE SET r.w = row.w",
        {"b": [{"s": 3, "d": 5, "w": 1.5}]},
        9,
    ),
    (
        "set",
        "UNWIND $b AS row MATCH (n:User {uid: row.u}) SET n.score = row.s",
        {"b": [{"u": 3, "s": 0.5}]},
        6,
    ),
    (
        "detach_delete",
        "UNWIND $b AS row MATCH (n:User {uid: row.u}) DETACH DELETE n",
        {"b": [{"u": 3}]},
        16,
    ),
]


@pytest.mark.parametrize(
    "query,params,most",
    [w[1:] for w in WRITE_JOBS + BATCH_MATCH_JOBS],
    ids=[w[0] for w in WRITE_JOBS + BATCH_MATCH_JOBS],
)
def test_benchmark_write_spark_jobs(spark, uapi, query, params, most):
    # the second run writes to the graph the first one committed
    for _ in range(2):
        done = []
        jobs = spark_jobs(spark, lambda: done.append(
            uapi.cypher(query, graph="wjobs", params=params).result(120)
        ) or done[0].collect())
        assert len(jobs) <= most
        # the counters row is an inline table, not a Python-side RDD
        plan = done[0]._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize(
    "query,params",
    [
        ("CREATE (a:L {ID: toInteger(4)}), (b:M)", None),
        (
            "UNWIND $b AS row CREATE (a:L {ID: toInteger(row.i)}), (b:M)",
            {"b": [{"i": 4}, {"i": 5}]},
        ),
    ],
)
def test_explicit_ids_count_in_the_allocator(fapi, query, params):
    """An ID written through an expression is one the allocator skips:
    the other pattern's nodes are numbered above it."""
    fapi.cypher(query, graph=GRAPH, params=params).result(120)
    g = fapi.catalog.get(GRAPH)
    ids = [r.ID for r in g.nodes.collect()]
    assert len(ids) == len(set(ids))
    assert g.max_id == max(ids)


def test_two_new_nodes_with_one_id_are_refused(fapi):
    before = _state(fapi)
    with pytest.raises(RuntimeError, match="two new nodes have the same node id"):
        fapi.cypher(
            "UNWIND $b AS row CREATE (a:L {ID: row.i})",
            graph=GRAPH,
            params={"b": [{"i": 7}, {"i": 7}]},
        ).result(120)
    assert _state(fapi) == before


def test_commit_carries_the_id_mark(fapi):
    """The commit registers the raised high-water mark, and ids are not
    reused after the top node is deleted."""
    fapi.cypher("CREATE (x:C), (y:C)", graph=GRAPH).result(120)
    assert fapi.catalog.get(GRAPH).max_id == 5
    fapi.cypher("MATCH (n) WHERE n.ID = 5 DELETE n", graph=GRAPH).result(120)
    fapi.cypher("CREATE (z:C)", graph=GRAPH).result(120)
    g = fapi.catalog.get(GRAPH)
    assert sorted(r.ID for r in g.nodes.collect()) == [1, 2, 3, 4, 6]
    assert g.max_id == 6


#: statements that would change an existing entity's reserved column:
#: a node's ID (its edges would point at no node) or LABELS (labels
#: change through SET n:L), a relationship's endpoints or identity
RESERVED_WRITES = [
    "MATCH (n) WHERE n.ID = 2 SET n.ID = 50",
    "MATCH (n) WHERE n.ID = 2 SET n = {ID: 50}",
    "MATCH (n) WHERE n.ID = 2 SET n += {ID: 50}",
    "MATCH (n) WHERE n.ID = 2 FOREACH (x IN [50] | SET n.ID = x)",
    "MATCH (n), (m) WHERE n.ID = 2 AND m.ID = 1 SET n.ID = 50, m.v = 1",
    "MERGE (n:P {name: 'a'}) ON MATCH SET n.ID = 50",
    "UNWIND $b AS row MERGE (n:P {name: row.nm}) ON MATCH SET n.ID = row.i",
    "UNWIND $b AS row MATCH (n {ID: row.i}) SET n.ID = 50",
    "MATCH (n) WHERE n.ID = 2 WITH n SET n.ID = 50",
    "MATCH (n) WHERE n.ID = 2 SET n.LABELS = ['Z']",
    "MATCH (n) WHERE n.ID = 2 REMOVE n.ID",
    "MATCH (a)-[r:K]->(b) WHERE a.ID = 1 SET r.START_ID = 3",
    "UNWIND $b AS row MATCH (a {ID: row.i}), (b {ID: 1}) "
    "MERGE (a)-[r:K]->(b) ON MATCH SET r.END_ID = 3",
]


@pytest.mark.parametrize("query", RESERVED_WRITES)
def test_reserved_columns_are_refused(fapi, query):
    """Every form refuses, at submit, an item that changes an existing
    entity's reserved column, and leaves the graph as it was."""
    before = _state(fapi)
    with pytest.raises(CypherUnsupported, match=r"\.(ID|LABELS|START_ID|"
                       r"END_ID): the \w+ column is immutable"):
        fapi.cypher(
            query, graph=GRAPH, params={"b": [{"nm": "a", "i": 2}]}
        )
    assert _state(fapi) == before


def test_merge_on_create_may_set_the_id(fapi):
    """ON CREATE only creates: its ID is the new node's."""
    fapi.cypher(
        "MERGE (n:P {name: 'z'}) ON CREATE SET n.ID = 50", graph=GRAPH
    ).result(120)
    g = fapi.catalog.get(GRAPH)
    assert sorted(r.ID for r in g.nodes.collect()) == [1, 2, 3, 50]
    assert g.max_id == 50


def test_concurrent_write_returns_are_their_own(spark):
    """Writes on different graphs run on their own threads at once, and
    each RETURN projects its own write: no two projections share a
    temp view."""
    api = Neo4jArrowSpark(spark)
    names = [f"wret{i}" for i in range(8)]
    for name in names:
        api.catalog.register(name, spark.createDataFrame(
            [(1, ["X"], 0)], "ID long, LABELS array<string>, k long"
        ), None, overwrite=True)
    try:
        for _round in range(4):
            jobs = [
                api.cypher(
                    f"CREATE (n:X {{k: {i}}}) RETURN n.k AS k", graph=name
                )
                for i, name in enumerate(names)
            ]
            got = [[r.k for r in job.result(120).collect()] for job in jobs]
            assert got == [[i] for i in range(len(names))]
    finally:
        for name in names:
            api.catalog.drop(name)


def test_merges_keep_the_partition_count(uapi):
    """A commit does not grow the node frame's partition count: every
    later scan would pay for the extra partitions."""
    query = WRITE_JOBS[0][1]
    registered = uapi.catalog.get("wjobs").nodes.rdd.getNumPartitions()
    for i in range(20):
        batch = [{"uid": u, "s": 1.0} for u in (i, 100 + 2 * i, 101 + 2 * i)]
        s = uapi.cypher(query, graph="wjobs", params={"batch": batch}).result(120)
        assert s.collect()[0].nodes_created == 2
    nodes = uapi.catalog.get("wjobs").nodes
    assert nodes.rdd.getNumPartitions() == registered
    ids = [r.ID for r in nodes.collect()]
    assert len(ids) == len(set(ids)) == 80


def test_batch_merge_types_a_new_property_from_the_whole_batch(fapi):
    """A property new to the schema takes the type the whole batch gives
    it, not the type of the creating rows alone: the matched row's 2.5
    stays 2.5."""
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {name: row.nm}) "
        "ON CREATE SET n.s = row.s ON MATCH SET n.s = row.s",
        graph=GRAPH,
        params={"b": [{"nm": "a", "s": 2.5}, {"nm": "z", "s": 1}]},
    ).result(120)
    nodes = fapi.catalog.get(GRAPH).nodes
    assert dict(nodes.dtypes)["s"] == "double"
    got = {r.name: r.s for r in nodes.collect()}
    assert got == {"b": None, "a": 2.5, "c": None, "z": 1.0}


def test_batch_merge_matches_whole_key_tuples(fapi):
    """A two-key MERGE matches a node only on both keys: each batch
    tuple below mixes the keys of two different nodes."""
    s = fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {name: row.nm, v: row.v}) "
        "ON MATCH SET n.hit = 1",
        graph=GRAPH,
        params={"b": [{"nm": "a", "v": 10}, {"nm": "b", "v": 20},
                      {"nm": "a", "v": 20}]},
    ).result(120)
    assert (s.collect()[0].nodes_created, s.collect()[0].props_set) == (2, 1)
    got = sorted(
        (r.name, r.v, r.hit) for r in fapi.catalog.get(GRAPH).nodes.collect()
        if r.name in ("a", "b")
    )
    assert got == [("a", 10, None), ("a", 20, 1), ("b", 10, None),
                   ("b", 20, None)]


@pytest.mark.parametrize(
    "rows,want",
    [
        ([[["x"], 1]], []),
        ([[["x"], 2], [["y"], 1]], [(("x",), 2)]),
    ],
    ids=["none", "one"],
)
def test_sql_in_without_sql_literals(spark, rows, want):
    """Values without SQL literal text (an array here) compare through
    Columns, by whole tuple."""
    df = spark.createDataFrame(
        [(["y"], 2), (["x"], 2)], "a array<string>, b long"
    )
    got = df.filter(_sql_in(["a", "b"], rows, ["array<string>", "bigint"]))
    assert [(tuple(r.a), r.b) for r in got.collect()] == want

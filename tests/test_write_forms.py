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
from neo4j_arrow_spark.cypher import CypherSyntaxError
from conftest import spark_jobs

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
        # the MATCH form counts the pattern map, the batch form does not
        ("match",
         "MATCH (a {ID: 2}), (b {ID: 1}) CREATE (a)-[:T {w: 1.5}]->(b)",
         None, ("create_rel", 0, 1, 0, 0, 1)),
        ("batch",
         "UNWIND $b AS row MATCH (a {ID: row.s}), (b {ID: row.d}) "
         "CREATE (a)-[:T {w: row.w}]->(b)",
         {"b": [{"s": 2, "d": 1, "w": 1.5}]},
         ("create_rel", 0, 0, 0, 0, 1)),
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
    nodes = spark.createDataFrame(
        [(i, ["User"], i, float(i)) for i in range(40)],
        "ID long, LABELS array<string>, uid long, score double",
    )
    rels = spark.createDataFrame(
        [(i, (i * 7 + 1) % 40, "FOLLOWS") for i in range(40)],
        "START_ID long, END_ID long, TYPE string",
    )
    api.catalog.register("wjobs", nodes, rels, overwrite=True)
    yield api
    api.catalog.drop("wjobs")


#: Spark jobs per write of the benchmark's shapes on ``uapi``
WRITE_JOBS = [
    (
        "merge",
        "UNWIND $batch AS row MERGE (n:User {uid: row.uid}) "
        "ON CREATE SET n.score = row.s ON MATCH SET n.score = row.s",
        {"batch": [{"uid": u, "s": u / 2} for u in range(30, 50)]},
        19,
    ),
    (
        "create",
        "MATCH (a:User {uid: $a}), (b:User {uid: $b}) "
        "CREATE (a)-[:FOLLOWS]->(b)",
        {"a": 3, "b": 5},
        6,
    ),
]


@pytest.mark.parametrize(
    "query,params,most", [w[1:] for w in WRITE_JOBS], ids=[w[0] for w in WRITE_JOBS]
)
def test_benchmark_write_spark_jobs(spark, uapi, query, params, most):
    jobs = spark_jobs(
        spark,
        lambda: uapi.cypher(query, graph="wjobs", params=params)
        .result(120)
        .collect(),
    )
    assert len(jobs) <= most

"""One relationship frame per graph.

Catalog registration mints the surrogate ``(REL_ID, REL_ID2)`` edge
identity into the graph's one rels frame and its view ``<g>_rels``. A
Cypher read transpiles once over that view; a read that does not use
identity keeps no minting ``Window`` in its optimized plan (Catalyst
prunes it), and one that does stays exact over exact-duplicate parallel
edges.
"""

from __future__ import annotations

import unittest.mock as mock

import pytest
from conftest import register_users

from neo4j_arrow_spark import cypher
from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import cypher_to_sql
from neo4j_arrow_spark.operators.dedup import _intermediates_of

#: two exact duplicates of the edge 0 -> 1 (three parallel twins in all)
#: and an edge 1 -> 0 back
TWINS = [(0, 1, "FOLLOWS"), (0, 1, "FOLLOWS"), (1, 0, "FOLLOWS")]

#: identity-free reads: a one-hop lookup, a count(DISTINCT) two-hop (two
#: MATCH clauses, so no uniqueness between its hops), a top-k and an
#: undirected pattern
IDENTITY_FREE = [
    "MATCH (a:User {uid: 3})-[:FOLLOWS]->(b) RETURN b.uid AS uid",
    "MATCH (a:User {uid: 3})-[:FOLLOWS]->(m) MATCH (m)-[:FOLLOWS]->(c) "
    "RETURN count(DISTINCT c) AS n",
    "MATCH (a:User)-[:FOLLOWS]->(b:User) RETURN b.uid AS uid, "
    "count(*) AS deg ORDER BY deg DESC, uid ASC LIMIT 10",
    "MATCH (a:User {uid: 0})-[:FOLLOWS]-(b) RETURN b.uid AS uid, count(*) AS n",
]


@pytest.fixture()
def api(spark):
    api = Neo4jArrowSpark(spark)
    register_users(api, "rid", extra_rels=TWINS)
    yield api
    api.catalog.drop("rid")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rels_view_columns_survive_writes(spark, api):
    """``rid_rels`` has one schema from registration on: a relationship
    CREATE and a node-only SET leave its columns as they were."""
    cols = spark.table("rid_rels").columns
    assert cols[-2:] == ["REL_ID", "REL_ID2"]
    api.cypher(
        "MATCH (a:User {uid: 2}), (b:User {uid: 5}) CREATE (a)-[:FOLLOWS]->(b)",
        graph="rid",
    ).result(120)
    assert spark.table("rid_rels").columns == cols
    api.cypher("MATCH (n:User {uid: 2}) SET n.score = 0.5", graph="rid").result(120)
    assert spark.table("rid_rels").columns == cols
    assert api.catalog.get("rid").rels.count() == 44


def test_read_transpiles_once(api):
    calls = []
    once = cypher._cypher_to_sql_once

    def counted(*args, **kwargs):
        calls.append(args[0])
        return once(*args, **kwargs)

    with mock.patch.object(cypher, "_cypher_to_sql_once", side_effect=counted):
        rows = api.cypher(IDENTITY_FREE[0], graph="rid").result(120).collect()
    assert sorted(r.uid for r in rows) == [22]
    assert calls == [IDENTITY_FREE[0]]


@pytest.mark.parametrize("cache", [False, True], ids=["uncached", "cached"])
def test_identity_free_reads_keep_no_window(spark, cache):
    api = Neo4jArrowSpark(spark)
    register_users(api, "ridw", extra_rels=TWINS)
    g = api.catalog.get("ridw")
    g = api.catalog.register(
        "ridw", g.nodes, g.rels.drop("REL_ID", "REL_ID2"), cache=cache,
        overwrite=True,
    )
    rows = _intermediates_of(g.rels)
    assert [f.is_cached for f in rows] == [cache]
    try:
        # the view carries the minting Window...
        view = spark.table("ridw_rels")
        assert "REL_ID" in view.columns and "Window" in _plan(view)
        for q in IDENTITY_FREE:
            df = api.cypher(q, graph="ridw").result(120)
            # ...a read that does not use identity prunes it...
            assert "Window" not in _plan(df), q
            assert ("InMemoryRelation" in _plan(df)) == cache, q
            df.collect()
        # ...and a read of identity keeps it
        df = api.cypher(
            "MATCH ()-[r]->() RETURN count(DISTINCT r) AS c", graph="ridw"
        ).result(120)
        assert "Window" in _plan(df)
        assert df.collect()[0].c == 43
    finally:
        api.catalog.drop("ridw")
    # drop() releases the cached rows under the minted frame
    assert not rows[0].is_cached


def test_identity_is_exact_over_duplicate_parallel_edges(spark, api):
    """count(r), id(r) and comma-pattern uniqueness tell the three
    exact-duplicate twins 0 -> 1 apart, through the API and over the
    registered view transpiled directly."""
    queries = {
        "MATCH (:User {uid: 0})-[r:FOLLOWS]->(:User {uid: 1}) "
        "RETURN count(r) AS c": 3,
        "MATCH (:User {uid: 0})-[r:FOLLOWS]->(:User {uid: 1}) "
        "RETURN count(DISTINCT id(r)) AS c": 3,
        # ordered pairs of distinct twins: 3 x 2
        "MATCH (a:User {uid: 0})-[r1:FOLLOWS]->(b:User {uid: 1}), "
        "(a)-[r2:FOLLOWS]->(b) RETURN count(*) AS c": 6,
    }
    for q, want in queries.items():
        assert api.cypher(q, graph="rid").result(120).collect()[0].c == want, q
        sql = cypher_to_sql(q, "rid_nodes", "rid_rels", rel_id=True)
        assert spark.sql(sql).collect()[0].c == want, q


def test_rel_delete_keeps_unmatched_parallel_edges(spark):
    """``DELETE r`` removes the matched edges by their identity: a
    parallel edge with the same endpoints and type but another property
    value stays, and a RETURN counts the deleted twins apart."""
    api = Neo4jArrowSpark(spark)
    api.catalog.register(
        "ridd",
        spark.createDataFrame([(1, ["P"]), (2, ["P"])], "ID long, LABELS array<string>"),
        spark.createDataFrame(
            [(1, 2, "K", 1.0), (1, 2, "K", 1.0), (1, 2, "K", 2.0)],
            "START_ID long, END_ID long, TYPE string, w double",
        ),
    )
    try:
        row = api.cypher(
            "MATCH ()-[r:K]->() WHERE r.w = 1.0 DELETE r RETURN count(r) AS c",
            graph="ridd",
        ).result(120).collect()[0]
        assert row.c == 2
        assert [r.w for r in api.catalog.get("ridd").rels.collect()] == [2.0]
    finally:
        api.catalog.drop("ridd")

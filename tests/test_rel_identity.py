"""One relationship frame per graph, one stored id per edge.

Every edge of a catalog graph carries a 64-bit ``REL_ID``, numbered
once: by catalog registration, with no shuffle, or by the write that
creates the edge, above the graph's relationship high-water mark. A
Cypher read transpiles once over ``<g>_rels``; no read or write plan
computes identity (no ``Window``), identity stays exact over
exact-duplicate parallel edges on every kind of registered frame, and
``id(r)`` is the same on every evaluation and across writes.
"""

from __future__ import annotations

import unittest.mock as mock
from collections import Counter

import pytest
from conftest import register_users, spark_jobs

from neo4j_arrow_spark import api as api_mod
from neo4j_arrow_spark import cypher
from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import cypher_to_sql
from neo4j_arrow_spark.operators.ingest import bulk_import

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

#: reads of identity on the twins graph -> the count they return
IDENTITY = {
    "MATCH (:User {uid: 0})-[r:FOLLOWS]->(:User {uid: 1}) "
    "RETURN count(r) AS c": 3,
    "MATCH (:User {uid: 0})-[r:FOLLOWS]->(:User {uid: 1}) "
    "RETURN count(DISTINCT id(r)) AS c": 3,
    # ordered pairs of distinct twins: 3 x 2
    "MATCH (a:User {uid: 0})-[r1:FOLLOWS]->(b:User {uid: 1}), "
    "(a)-[r2:FOLLOWS]->(b) RETURN count(*) AS c": 6,
    # a two-slot chain: its uniqueness predicate reads REL_ID
    "MATCH (a:User {uid: 0})-[:FOLLOWS]->()-[:FOLLOWS]->(c) "
    "RETURN count(*) AS c": 6,
    "MATCH ()-[r]->() RETURN count(DISTINCT r) AS c": 43,
}

#: every edge's endpoints and id
IDS = "MATCH (a)-[r]->(b) RETURN a.uid AS a, b.uid AS b, id(r) AS i"

#: the benchmark's one-edge CREATE
CREATE = "MATCH (a:User {uid: 2}), (b:User {uid: 5}) CREATE (a)-[:FOLLOWS]->(b)"

#: the kinds of registered frame that number identity differently: a
#: local scan numbered in place, its rows numbered and cached, a
#: parquet ``bulk_import`` (ids stored in the files) and an uncached
#: frame with a shuffle in its lineage (snapshotted, then numbered)
KINDS = ("uncached", "cached", "parquet", "shuffled")


@pytest.fixture()
def api(spark):
    api = Neo4jArrowSpark(spark)
    register_users(api, "rid", extra_rels=TWINS)
    yield api
    api.catalog.drop("rid")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _frames(api):
    """The twins graph's frames, without identity."""
    register_users(api, "ridf", extra_rels=TWINS)
    g = api.catalog.get("ridf")
    api.catalog.drop("ridf")
    return g.nodes, g.rels.drop("REL_ID")


def _register(api, kind: str, tmp_path) -> str:
    """Register the twins graph as ``ridk`` the ``kind`` way; returns
    its database."""
    nodes, rels = _frames(api)
    if kind == "parquet":
        bulk_import(
            api.spark, api.catalog, str(tmp_path / "ridk"), nodes, rels,
            database_name="ridk",
        )
        return "ridk"
    if kind == "shuffled":
        rels = rels.repartition(3, "END_ID")
    api.catalog.register("ridk", nodes, rels, cache=kind == "cached")
    return "neo4j"


def test_rels_view_columns_survive_writes(spark, api):
    """``rid_rels`` has one schema from registration on: a relationship
    CREATE and a node-only SET leave its columns as they were."""
    cols = spark.table("rid_rels").columns
    assert cols[-1:] == ["REL_ID"]
    api.cypher(CREATE, graph="rid").result(120)
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
def test_no_plan_computes_identity(spark, cache):
    """Registration runs no job, and no read (identity reads included)
    and no CREATE plans a ``Window``: the ids are stored, not computed
    per read."""
    api = Neo4jArrowSpark(spark)
    nodes, rels = _frames(api)
    jobs = spark_jobs(spark, lambda: api.catalog.register(
        "ridw", nodes, rels, cache=cache
    ))
    assert not jobs
    try:
        for q in IDENTITY_FREE + list(IDENTITY):
            df = api.cypher(q, graph="ridw").result(120)
            assert "Window" not in _plan(df), q
            assert ("InMemoryRelation" in _plan(df)) == cache, q
            df.collect()
        committed = []

        def snapshot(df):
            committed.append(_plan(df))
            return df.localCheckpoint(eager=False)

        with mock.patch.object(api_mod, "_snapshot", side_effect=snapshot):
            api.cypher(CREATE, graph="ridw").result(120)
        assert committed and not any("Window" in p for p in committed)
        df = api.cypher(list(IDENTITY)[-1], graph="ridw").result(120)
        assert "Window" not in _plan(df)
        assert df.collect()[0].c == 44
    finally:
        api.catalog.drop("ridw")


def test_identity_is_exact_over_duplicate_parallel_edges(spark, tmp_path):
    """On every kind of registered frame, count(r), id(r) and pattern
    uniqueness tell the three exact-duplicate twins 0 -> 1 apart,
    through the API and over the registered view transpiled directly;
    id(r) gives the same values on a second evaluation, and a node-only
    SET and a schema-widening CREATE change no edge's id."""
    api = Neo4jArrowSpark(spark)
    for kind in KINDS:
        db = _register(api, kind, tmp_path)

        def rows(q):
            return api.cypher(q, database=db, graph="ridk").result(120).collect()

        try:
            for q, want in IDENTITY.items():
                assert rows(q)[0].c == want, (kind, q)
                sql = cypher_to_sql(q, "ridk_nodes", "ridk_rels", rel_id=True)
                assert spark.sql(sql).collect()[0].c == want, (kind, q)
            before = Counter(map(tuple, rows(IDS)))
            assert len({i for _a, _b, i in before}) == 43, kind
            assert Counter(map(tuple, rows(IDS))) == before, kind
            rows("MATCH (n:User {uid: 2}) SET n.score = 0.5")
            assert Counter(map(tuple, rows(IDS))) == before, kind
            rows(CREATE.replace("[:FOLLOWS]", "[:FOLLOWS {w: 1.5}]"))
            added = Counter(map(tuple, rows(IDS))) - before
            assert len(added) == 1, kind
            (a, b, i), = added
            assert (a, b) == (2, 5) and i not in {x[2] for x in before}, kind
        finally:
            api.catalog.drop("ridk", database=db)


def test_client_rel_ids_are_not_trusted(spark, tmp_path):
    """Ingest drops a ``REL_ID`` column the client sends: edges that
    arrive with one id between them still count apart."""
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(0, ["P"]), (1, ["P"])], "ID long, LABELS array<string>"
    )
    rels = spark.createDataFrame(
        [(0, 1, "T", 7), (0, 1, "T", 7), (1, 0, "T", 7)],
        "START_ID long, END_ID long, TYPE string, REL_ID long",
    )
    q = "MATCH ()-[r]->() RETURN count(DISTINCT r) AS c"
    api.gds_write_nodes("ridc", nodes).result(120)
    api.gds_write_relationships("ridc", rels).result(120)
    bulk_import(
        spark, api.catalog, str(tmp_path / "ridb"), nodes, rels,
        database_name="ridb",
    )
    try:
        assert api.cypher(q, graph="ridc").result(120).collect()[0].c == 3
        got = api.cypher(q, database="ridb", graph="ridb").result(120)
        assert got.collect()[0].c == 3
    finally:
        api.catalog.drop("ridc")
        api.catalog.drop("ridb", database="ridb")


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

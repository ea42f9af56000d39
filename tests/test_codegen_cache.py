"""Generated classes are compiled once per session: a mixed op cycle run
again compiles (almost) nothing. Spark's default codegen cache holds 100
classes, fewer than one k-hop and three other ops need, so at that size
every cycle evicted and re-compiled its own classes; and a stage id in
the class name made a re-planned stage miss the cache (session.py)."""

from __future__ import annotations

import pytest

from conftest import register_users
from neo4j_arrow_spark.api import Neo4jArrowSpark

GRAPH = "cgcache"

#: one cycle: a Cypher read, a k-hop, a batch MERGE and a MATCH … CREATE
READ = (
    "MATCH (a:User {uid: $id})-[:FOLLOWS]->()-[:FOLLOWS]->(c) "
    "RETURN count(DISTINCT c) AS n"
)
MERGE = (
    "UNWIND $batch AS row MERGE (n:User {uid: row.uid}) "
    "ON CREATE SET n.score = row.s ON MATCH SET n.score = row.s"
)
CREATE = "MATCH (a:User {uid: $a}), (b:User {uid: $b}) CREATE (a)-[:FOLLOWS]->(b)"

#: classes the third cycle may compile. Measured on a 4-core machine:
#: 0-8 (AQE can re-plan a k-hop stage differently), and 103 with
#: Spark's defaults (a 100-entry cache, stage ids in class names)
MOST_COMPILES = 12


@pytest.fixture()
def capi(spark):
    api = Neo4jArrowSpark(spark)
    register_users(api, GRAPH)
    yield api
    api.catalog.drop(GRAPH)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM: a compile is a miss of
    the codegen cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_cycle_reuses_generated_classes(spark, capi):
    batch = [{"uid": u, "s": u / 2} for u in range(30, 50)]
    per_cycle = []
    for _ in range(3):
        before = _compiles(spark)
        capi.cypher(READ, graph=GRAPH, params={"id": 3}).result(120).collect()
        capi.khop(GRAPH, filters=["FOLLOWS"], node_id="uid").result(120).collect()
        capi.cypher(MERGE, graph=GRAPH, params={"batch": batch}).result(120).collect()
        capi.cypher(CREATE, graph=GRAPH, params={"a": 3, "b": 5}).result(120).collect()
        per_cycle.append(_compiles(spark) - before)
    assert per_cycle[2] <= MOST_COMPILES, per_cycle

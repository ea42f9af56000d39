"""The write commit: every write form commits through one path in
``api._cypher_write``. Changed frames are lazily snapshotted, unchanged
rels keep the plain (identity-free) frame, and a trailing RETURN
projects over the committed frames.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_arrow_spark.api import Neo4jArrowSpark


@pytest.fixture()
def capi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(i, ["P"], i * 10) for i in range(1, 7)],
        "ID long, LABELS array<string>, v long",
    )
    rels = spark.createDataFrame(
        [(1, 2, "K"), (2, 3, "K"), (3, 4, "K"), (4, 5, "K"), (5, 6, "K")],
        "START_ID long, END_ID long, TYPE string",
    )
    api.catalog.register("wc", nodes, rels, overwrite=True)
    yield api
    api.catalog.drop("wc")


#: node-only writes, one per form that used to register the minted rels
#: (query, params, the written x values)
NODE_ONLY_WRITES = [
    ("MATCH (n:P) WHERE n.ID = 1 SET n.x = 5", None, [5]),
    (
        "UNWIND $b AS row MATCH (n:P {ID: row.id}) SET n.x = row.x",
        {"b": [{"id": 1, "x": 5}, {"id": 2, "x": 6}]},
        [5, 6],
    ),
    ("MATCH (n:P) WITH n ORDER BY n.v LIMIT 2 SET n.x = 7", None, [7, 7]),
]


@pytest.mark.parametrize(
    "query,params,xs",
    NODE_ONLY_WRITES,
    ids=["set", "batch_set", "pipeline_set"],
)
def test_node_only_write_keeps_plain_rels(spark, capi, query, params, xs):
    capi.cypher(query, graph="wc", params=params).result(120)
    g = capi.catalog.get("wc")
    assert "REL_ID" not in g.rels.columns
    plan = (
        spark.table("wc_rels")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan, plan
    assert [r.x for r in capi.cypher(
        "MATCH (n:P) WHERE n.x IS NOT NULL RETURN n.x AS x ORDER BY x",
        graph="wc",
    ).result(120).collect()] == xs
    c = capi.cypher(
        "MATCH ()-[r]->() RETURN count(r) AS c", graph="wc"
    ).result(120).collect()[0].c
    assert c == 5


def test_return_fills_the_commit_snapshot(spark):
    """A general-path write with RETURN projects over the committed
    (snapshotted) frame, so its job fills the snapshot and the reads
    after it never re-evaluate the write's source."""
    acc = spark.sparkContext.accumulator(0)

    def tick(i):
        acc.add(1)
        return i

    tick_udf = F.udf(tick, "long")
    nodes = spark.range(1, 21).select(
        tick_udf("id").alias("ID"),
        F.array(F.lit("P")).alias("LABELS"),
        (F.col("id") * 10).alias("v"),
    )
    rels = spark.createDataFrame(
        [(1, 2, "K")], "START_ID long, END_ID long, TYPE string"
    )
    api = Neo4jArrowSpark(spark)
    api.catalog.register("wsnap", nodes, rels, overwrite=True)
    try:
        rows = api.cypher(
            "MATCH (n:P) WHERE n.ID = 3 SET n.v = 0 RETURN n.v AS v",
            graph="wsnap",
        ).result(120).collect()
        assert [r.v for r in rows] == [0]
        before = acc.value
        assert api.cypher(
            "MATCH (n:P) RETURN count(n) AS c", graph="wsnap"
        ).result(120).collect()[0].c == 20
        assert [r.v for r in api.cypher(
            "MATCH (n:P) WHERE n.ID = 3 RETURN n.v AS v", graph="wsnap"
        ).result(120).collect()] == [0]
        assert acc.value - before == 0
    finally:
        api.catalog.drop("wsnap")

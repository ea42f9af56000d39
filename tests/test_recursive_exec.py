"""The driver-paced recursive-CTE runner (neo4j_arrow_spark.recursive_exec).

The transpiler's spark-dialect recursive emissions carry marker
comments; ``run_recursive_sql`` executes each marked block as a
driver-side union loop (one lazy-localCheckpoint+count job per level)
instead of Spark's per-level repartition+count(+collect) UnionLoopExec.
These tests pin:

- row-for-row equality between the runner and native execution for
  every recursion mode (walk enumeration, distinct frontier, trail,
  shortestPath min-hops CTE, OPTIONAL-MATCH derived frontier,
  undirected closure) — the marked SQL stays a valid recursive CTE, so
  the native leg runs the IDENTICAL string;
- the session backstops (row limit / level limit) with the same error
  classes the native loop raises;
- marker hygiene (spark dialect only — the DuckDB oracle text is
  unchanged) and temp-view cleanup;
- the Spark-internal surface the level re-wrap depends on
  (``internalCreateDataFrame`` + ``queryExecution.toRdd`` — the
  constraint-free LogicalRDD that sidesteps Catalyst's
  UnionBase.rewriteConstraints crash on checkpointed levels).
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.cypher import cypher_to_sql
from neo4j_arrow_spark.recursive_exec import _BLOCK, run_recursive_sql


def _views(spark, nodes_rows, rels_rows):
    nodes = spark.createDataFrame(
        nodes_rows, "ID long, LABELS array<string>, name string"
    )
    rels = spark.createDataFrame(
        rels_rows, "START_ID long, END_ID long, TYPE string, w double"
    )
    nodes.createOrReplaceTempView("rxnodes")
    from neo4j_arrow_spark.catalog import number_rels

    number_rels(rels)[0].createOrReplaceTempView("rxrels")


def _graph():
    # two directed diamonds + a tail and a 2-cycle: multiple walks per
    # endpoint pair (multiplicity), depth 3, and a cycle for the trail
    # and frontier modes to disagree with naive walk counting on
    nodes = [(i, ["P"], f"n{i}") for i in range(8)]
    rels = [
        (0, 1, "E", 1.0), (0, 2, "E", 1.0), (1, 3, "E", 1.0),
        (2, 3, "E", 1.0), (3, 4, "E", 1.0), (3, 5, "E", 1.0),
        (4, 6, "E", 1.0), (5, 6, "E", 1.0), (6, 7, "E", 1.0),
        (1, 2, "E", 1.0), (2, 1, "E", 1.0),  # 2-cycle
    ]
    return nodes, rels


MODES = [
    # walk enumeration (multiplicity-sensitive count)
    "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
    "RETURN b.name AS name, count(*) AS walks",
    # distinct frontier (duplicate-insensitive aggregates)
    "MATCH (a:P)-[:E*]->(b) RETURN b.name AS name, "
    "min(size(r)) AS minhops, count(DISTINCT a.ID) AS reachers "
    "ORDER BY name".replace("-[:E*]->", "-[r:E*]->"),
    # trail mode (DISTINCT + minlen >= 2 + directed + edge identity)
    "MATCH (a:P {name: 'n0'})-[:E*2..]->(b) "
    "RETURN DISTINCT b.name AS name ORDER BY name",
    # shortestPath (min-hops CTE over the frontier)
    "MATCH p = shortestPath((a:P)-[:E*]->(b:P)) "
    "RETURN b.name AS name, min(length(p)) AS best, count(*) AS pairs "
    "ORDER BY name",
    # OPTIONAL MATCH unbounded (derived-frontier LEFT join)
    "MATCH (a:P) OPTIONAL MATCH (a)-[:E*]->(t:P) "
    "RETURN a.name AS name, count(t) AS reach ORDER BY name",
    # undirected closure frontier
    "MATCH (a:P {name: 'n7'})-[:E*]-(b) "
    "RETURN DISTINCT b.name AS name ORDER BY name",
]


@pytest.mark.parametrize("cypher", MODES)
def test_runner_matches_native_execution(spark, cypher):
    _views(spark, *_graph())
    sql = cypher_to_sql(
        cypher, "rxnodes", "rxrels", rel_id=True, rel_props=["w"],
    )
    assert _BLOCK.search(sql), "expected a marked recursive block"
    native = sorted(map(tuple, spark.sql(sql).collect()))
    looped = sorted(map(tuple, run_recursive_sql(spark, sql).collect()))
    assert looped == native


def test_duckdb_dialect_carries_no_markers():
    cypher = (
        "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
        "RETURN b.name AS name, count(*) AS walks"
    )
    duck = cypher_to_sql(cypher, "rxnodes", "rxrels", dialect="duckdb")
    assert "/*rec" not in duck
    assert "WITH RECURSIVE" in duck


def test_row_limit_backstop_trips(spark):
    # complete digraph: walk mode explodes; the runner must trip the
    # session row limit with the native error class
    nodes = [(i, ["P"], f"n{i}") for i in range(6)]
    rels = [
        (i, j, "E", 1.0) for i in range(6) for j in range(6) if i != j
    ]
    _views(spark, nodes, rels)
    sql = cypher_to_sql(
        "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
        "RETURN b.name AS name, count(*) AS walks",
        "rxnodes", "rxrels",
    )
    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        with pytest.raises(Exception, match="RECURSION_ROW_LIMIT_EXCEEDED"):
            run_recursive_sql(spark, sql).collect()
    finally:
        spark.conf.set(key, prev)


def test_internal_api_breakage_falls_back_to_native(spark):
    """If the Spark-internal re-wrap surface breaks (e.g. a Spark
    upgrade removes internalCreateDataFrame), the runner must fall
    back to native execution with identical rows, not surface the
    internal error."""
    import unittest.mock as mock

    import neo4j_arrow_spark.recursive_exec as rx

    _views(spark, *_graph())
    sql = cypher_to_sql(
        "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
        "RETURN b.name AS name, count(*) AS walks",
        "rxnodes", "rxrels",
    )
    want = sorted(map(tuple, spark.sql(sql).collect()))
    with mock.patch.object(
        rx,
        "_checkpoint_level",
        side_effect=AttributeError("internalCreateDataFrame gone"),
    ):
        got = sorted(map(tuple, run_recursive_sql(spark, sql).collect()))
    assert got == want


def test_row_limit_raises_pyspark_error_class(spark):
    """The backstop must raise the same exception type + error class
    as native UnionLoopExec (pyspark SparkRuntimeException), so caller
    exception handling is path-independent."""
    from pyspark.errors import SparkRuntimeException

    nodes = [(i, ["P"], f"n{i}") for i in range(6)]
    rels = [
        (i, j, "E", 1.0) for i in range(6) for j in range(6) if i != j
    ]
    _views(spark, nodes, rels)
    sql = cypher_to_sql(
        "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
        "RETURN b.name AS name, count(*) AS walks",
        "rxnodes", "rxrels",
    )
    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        with pytest.raises(SparkRuntimeException) as ei:
            run_recursive_sql(spark, sql).collect()
        assert ei.value.getCondition() == "RECURSION_ROW_LIMIT_EXCEEDED"
    finally:
        spark.conf.set(key, prev)


def test_rename_skips_string_literals():
    """CTE rewiring must never rewrite a name that appears inside a
    string literal (user Cypher like {name: '_vlp'})."""
    from neo4j_arrow_spark.recursive_exec import _rename_outside_literals

    s = (
        "SELECT * FROM _vlp WHERE x = '_vlp' AND y = 'it''s _vlp' "
        'AND z = "_vlp" AND `_vlp` = 1 AND _vlp.c = _vlp2.c'
    )
    got = _rename_outside_literals(s, "_vlp", "_vlp__r9")
    assert got == (
        "SELECT * FROM _vlp__r9 WHERE x = '_vlp' AND y = 'it''s _vlp' "
        'AND z = "_vlp" AND `_vlp` = 1 AND _vlp__r9.c = _vlp2.c'
    )


def test_temp_views_dropped_after_execution(spark):
    _views(spark, *_graph())
    sql = cypher_to_sql(
        "MATCH (a:P {name: 'n0'})-[:E*]->(b) "
        "RETURN b.name AS name, count(*) AS walks",
        "rxnodes", "rxrels",
    )
    before = {t.name for t in spark.catalog.listTables()}
    df = run_recursive_sql(spark, sql)
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before, "runner leaked temp views"
    assert df.count() > 0  # still executable after the views dropped


def test_rewrapped_level_is_constraint_free(spark):
    # pins the internal surface the re-wrap depends on: a checkpointed
    # frame re-wrapped via internalCreateDataFrame must optimize inside
    # a union under an aggregate (the shape that crashes Catalyst's
    # UnionBase.rewriteConstraints with plain localCheckpoint levels on
    # Spark 4.1.2)
    from neo4j_arrow_spark.recursive_exec import _checkpoint_level

    base = spark.range(10).selectExpr(
        "id AS _sid", "id + 1 AS _tid", "1 AS _hops"
    ).distinct()
    lvl1 = _checkpoint_level(spark, base)
    lvl1.count()
    lvl2 = _checkpoint_level(
        spark, lvl1.selectExpr("_sid", "_tid + 1 AS _tid", "_hops + 1 AS _hops")
    )
    lvl2.count()
    u = lvl1.unionAll(lvl2)
    u.createOrReplaceTempView("rx_u")
    out = spark.sql(
        "SELECT _sid, MIN(_hops) AS h FROM rx_u GROUP BY _sid"
    ).collect()
    spark.catalog.dropTempView("rx_u")
    assert len(out) == 10

"""Regression tests for the round-9 ADVICE findings (all fixed r10).

1. (medium) the UNWIND batch CREATE rewrote EVERY token equal to a
   pattern variable — property keys (``{n: row.x}``) and labels
   (``:n``) silently changed, a silent data miswrite. Only a value
   position is now a batch reference; property-key and label
   positions stay as written.
2. (low) the merge ON MATCH SET / merge-rel prefix-strip regex
   rewrote ``var.prop`` inside STRING LITERALS in the value
   expression (``'see n.hits'`` → ``'see hits'``).
3. (low) ``_render_literal`` rendered non-finite floats as bare
   ``inf``/``nan`` — now a targeted CypherUnsupported.
4. (low) ``is_cypher_write``'s UNWIND branch misrouted read queries
   containing a CREATE/MERGE name anywhere (``RETURN x AS create``).
5. (low) ``isEmpty`` on a property column whose type isn't statically
   known refused even when the REGISTERED schema knows it — now
   dispatches on the graph's property types through api.cypher.
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import CypherUnsupported
from neo4j_arrow_spark.cypher_write import (
    _render_literal,
    is_cypher_write,
)


# -- 1: a batch CREATE reads only VALUE positions as batch references -------


def test_batch_property_key_named_like_pattern_var(aapi):
    aapi.cypher(
        "UNWIND $b AS row CREATE (n:L {n: row.x})",
        graph="adv9",
        params={"b": [{"x": 1}, {"x": 2}]},
    ).result(120)
    rows = aapi.cypher(
        "MATCH (m:L) RETURN m.n AS n ORDER BY n", graph="adv9"
    ).result(120).collect()
    assert [r.n for r in rows] == [1, 2]


def test_batch_label_named_like_pattern_var(aapi):
    aapi.cypher(
        "UNWIND $b AS row CREATE (n:n {k: row.x})",
        graph="adv9",
        params={"b": [{"x": 1}]},
    ).result(120)
    rows = aapi.cypher(
        "MATCH (m:n) RETURN m.k AS k", graph="adv9"
    ).result(120).collect()
    assert [r.k for r in rows] == [1]


def test_batch_property_key_named_like_alias(aapi):
    aapi.cypher(
        "UNWIND $b AS row CREATE (n:L {row: row.x})",
        graph="adv9",
        params={"b": [{"x": 7}]},
    ).result(120)
    rows = aapi.cypher(
        "MATCH (m:L) RETURN m.row AS v", graph="adv9"
    ).result(120).collect()
    assert [r.v for r in rows] == [7]


# -- 3: non-finite float params (pure) --------------------------------------


@pytest.mark.parametrize("v", [float("inf"), float("-inf"), float("nan")])
def test_non_finite_write_param_rejected(v):
    with pytest.raises(CypherUnsupported, match="non-finite"):
        _render_literal(v)


# -- 4: UNWIND read-query routing (pure) ------------------------------------


def test_read_unwind_with_create_alias_routes_to_read():
    assert not is_cypher_write("UNWIND [1,2] AS x RETURN x AS create")
    assert not is_cypher_write(
        "UNWIND [1,2] AS x RETURN x.create AS c"
    )
    assert is_cypher_write("UNWIND $b AS row CREATE (n:L {k: row.k})")
    assert is_cypher_write("UNWIND $b AS row MERGE (n:L {k: row.k})")


# -- API-level: 2 and 5 (and 1/4 through the dispatch layer) ----------------


@pytest.fixture()
def aapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [
            (1, ["P"], "alice", ["a", "b"], ""),
            (2, ["P"], "bob", [], "x"),
        ],
        "ID long, LABELS array<string>, name string, "
        "tags array<string>, note string",
    )
    rels = spark.createDataFrame(
        [(1, 2, "KNOWS", 1.0)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    api.catalog.register("adv9", nodes, rels, overwrite=True)
    return api


def test_on_match_set_string_literal_survives(aapi):
    aapi.cypher(
        "MERGE (n:P {ID: 1}) ON MATCH SET n.note = 'see n.name'",
        graph="adv9",
    ).result(120)
    row = (
        aapi.cypher(
            "MATCH (n:P) WHERE n.ID = 1 RETURN n.note AS note",
            graph="adv9",
        )
        .result(120)
        .collect()[0]
    )
    assert row.note == "see n.name"


def test_merge_rel_on_match_string_literal_survives(aapi):
    aapi.cypher(
        "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 2 "
        "MERGE (a)-[r:KNOWS]->(b) ON MATCH SET r.memo = 'keep r.w text'",
        graph="adv9",
    ).result(120)
    row = (
        aapi.cypher(
            "MATCH (:P)-[r:KNOWS]->(:P) RETURN r.memo AS memo",
            graph="adv9",
        )
        .result(120)
        .collect()[0]
    )
    assert row.memo == "keep r.w text"


def test_isempty_dispatches_on_registered_list_type(aapi):
    rows = (
        aapi.cypher(
            "MATCH (n:P) WHERE isEmpty(n.tags) RETURN n.ID AS id",
            graph="adv9",
        )
        .result(120)
        .collect()
    )
    assert [r.id for r in rows] == [2]


def test_isempty_dispatches_on_registered_string_type(aapi):
    rows = (
        aapi.cypher(
            "MATCH (n:P) WHERE isEmpty(n.note) RETURN n.ID AS id",
            graph="adv9",
        )
        .result(120)
        .collect()
    )
    assert [r.id for r in rows] == [1]


def test_isempty_unknown_column_still_refuses(aapi):
    with pytest.raises(CypherUnsupported, match="isEmpty"):
        aapi.cypher(
            "MATCH (n:P) RETURN isEmpty(n.nosuch) AS e", graph="adv9"
        )


def test_read_unwind_create_alias_through_api(aapi):
    rows = (
        aapi.cypher(
            "UNWIND [1,2] AS x RETURN x AS create", graph="adv9"
        )
        .result(120)
        .collect()
    )
    assert [r.create for r in rows] == [1, 2]


def test_batch_create_key_named_like_var_through_api(aapi):
    aapi.cypher(
        "UNWIND $b AS row CREATE (m:Q {ID: row.i, n: row.v})",
        graph="adv9",
        params={"b": [{"i": 10, "v": 5}, {"i": 11, "v": 6}]},
    ).result(120)
    rows = (
        aapi.cypher(
            "MATCH (m:Q) RETURN m.ID AS id, m.n AS n ORDER BY id",
            graph="adv9",
        )
        .result(120)
        .collect()
    )
    assert [(r.id, r.n) for r in rows] == [(10, 5), (11, 6)]

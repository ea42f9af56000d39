"""``UNWIND $batch AS row MERGE …`` — the canonical Neo4j bulk-upsert
idiom, set-based (r9 verdict #2). Documented sequential-equivalent
semantics: per distinct merge key the first row with an absent key
CREATEs (pattern props + its ON CREATE SET values); every later row
for the key, and every row for a pre-existing key, applies ON MATCH
SET with last-row-wins values. Self-referential ON MATCH values and
NULL merge keys are refused with targeted errors.
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import CypherUnsupported


@pytest.fixture()
def mapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(1, ["P"], "k1", 100.0)],
        "ID long, LABELS array<string>, sku string, price double",
    )
    api.catalog.register("um", nodes, None, overwrite=True)
    return api


def _state(api):
    return [
        (r.sku, r.price)
        for r in api.cypher(
            "MATCH (n:P) RETURN n.sku AS sku, n.price AS price "
            "ORDER BY sku",
            graph="um",
        )
        .result(120)
        .collect()
    ]


def test_batch_merge_both_branches_and_duplicates(mapi):
    batch = [
        {"sku": "k1", "p": 1.0},   # pre-existing → ON MATCH
        {"sku": "k2", "p": 2.0},   # new → ON CREATE
        {"sku": "k2", "p": 22.0},  # duplicate → ON MATCH on created
        {"sku": "k3", "p": 3.0},   # new → ON CREATE
        {"sku": "k1", "p": 11.0},  # duplicate match → last wins
    ]
    s = (
        mapi.cypher(
            "UNWIND $batch AS row MERGE (n:P {sku: row.sku}) "
            "ON CREATE SET n.price = row.p "
            "ON MATCH SET n.price = row.p * 10",
            graph="um",
            params={"batch": batch},
        )
        .result(120)
        .collect()[0]
    )
    assert s.op == "merge"
    assert s.nodes_created == 2
    # 2 ON CREATE props + 2 updated keys × 1 ON MATCH prop
    assert s.props_set == 4
    assert _state(mapi) == [("k1", 110.0), ("k2", 220.0), ("k3", 3.0)]


def test_batch_merge_create_only_no_on_clauses(mapi):
    s = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku})",
            graph="um",
            params={"b": [{"sku": "k9"}, {"sku": "k9"}, {"sku": "k1"}]},
        )
        .result(120)
        .collect()[0]
    )
    assert s.nodes_created == 1  # k9 once; k1 existed
    assert ("k9", None) in _state(mapi)


def test_batch_merge_empty_batch_noop(mapi):
    s = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku})",
            graph="um",
            params={"b": []},
        )
        .result(120)
        .collect()[0]
    )
    assert (s.nodes_created, s.props_set) == (0, 0)


def test_batch_merge_widening_key(mapi):
    """A merge key the schema doesn't have yet: every distinct key
    creates (nothing can match), the column widens, duplicates apply
    ON MATCH through the widened column."""
    s = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {extid: row.e}) "
            "ON CREATE SET n.price = 1.0 ON MATCH SET n.price = 9.0",
            graph="um",
            params={"b": [{"e": "x1"}, {"e": "x1"}]},
        )
        .result(120)
        .collect()[0]
    )
    assert s.nodes_created == 1
    rows = (
        mapi.cypher(
            "MATCH (n:P) WHERE n.extid = 'x1' RETURN n.price AS p",
            graph="um",
        )
        .result(120)
        .collect()
    )
    assert [r.p for r in rows] == [9.0]


def test_batch_merge_coalesce_fold_now_supported(mapi):
    # r11: the canonical counter-upsert is an ADDITIVE fold — no
    # longer refused (r10 verdict #3); non-additive shapes still are
    mapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON MATCH SET n.price = coalesce(n.price, 0) + 1",
        graph="um",
        params={"b": [{"sku": "k1"}]},
    ).result(120)
    assert _state(mapi) == [("k1", 101.0)]


def test_batch_merge_null_key_refused(mapi):
    with pytest.raises(RuntimeError, match="NULL merge-key"):
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku})",
            graph="um",
            params={"b": [{"sku": None}]},
        ).result(120)


def test_batch_merge_return_works_through_api(mapi):
    """RETURN on the batch MERGE is supported through the API (the
    dispatch layer splits it off before the batch executor; the
    executor-level refusal remains only for direct callers that pass
    an unsplit statement)."""
    rows = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "RETURN n.sku AS s",
            graph="um",
            params={"b": [{"sku": "k1"}]},
        )
        .result(120)
        .collect()
    )
    assert [r.s for r in rows] == ["k1"]


def test_batch_merge_rel_shape_refused(mapi):
    with pytest.raises(CypherUnsupported, match="relationship MERGE"):
        mapi.cypher(
            "UNWIND $b AS row MERGE (a:P {sku: row.s})-[r:X]->(b:P)",
            graph="um",
            params={"b": [{"s": "k1"}]},
        )


def test_batch_merge_key_wins_over_on_create_same_prop(mapi):
    """Single-MERGE parity: pattern keys define identity; an ON CREATE
    SET of the same property is dropped."""
    mapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON CREATE SET n.sku = 'clobber'",
        graph="um",
        params={"b": [{"sku": "k7"}]},
    ).result(120)
    assert ("k7", None) in _state(mapi)


# -- trailing RETURN on the batch forms (r10) --------------------------------


def test_batch_merge_return_one_row_per_element(mapi):
    batch = [
        {"sku": "k1", "p": 1.0},
        {"sku": "k2", "p": 2.0},
        {"sku": "k2", "p": 22.0},
    ]
    rows = (
        mapi.cypher(
            "UNWIND $batch AS row MERGE (n:P {sku: row.sku}) "
            "ON CREATE SET n.price = row.p "
            "ON MATCH SET n.price = row.p * 10 "
            "RETURN n.sku AS sku, n.price AS price ORDER BY sku",
            graph="um",
            params={"batch": batch},
        )
        .result(120)
        .collect()
    )
    # one row per batch element, post-statement values (k2 appears
    # twice, both showing the final 220.0)
    assert [(r.sku, r.price) for r in rows] == [
        ("k1", 10.0),
        ("k2", 220.0),
        ("k2", 220.0),
    ]


def test_batch_merge_return_aggregate(mapi):
    rows = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "RETURN count(*) AS c",
            graph="um",
            params={"b": [{"sku": "k1"}, {"sku": "x1"}, {"sku": "x1"}]},
        )
        .result(120)
        .collect()
    )
    assert rows[0].c == 3


def test_batch_create_return(mapi):
    rows = (
        mapi.cypher(
            "UNWIND $b AS row CREATE (m:Q {ID: row.i, t: row.t}) "
            "RETURN m.t AS t ORDER BY t",
            graph="um",
            params={"b": [{"i": 50, "t": "a"}, {"i": 51, "t": "b"}]},
        )
        .result(120)
        .collect()
    )
    assert [r.t for r in rows] == ["a", "b"]


def test_batch_return_empty_batch_zero_rows(mapi):
    for q in (
        "UNWIND $b AS row CREATE (m:Q {ID: row.i}) RETURN m.ID AS id",
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) RETURN n.sku AS s",
    ):
        rows = (
            mapi.cypher(q, graph="um", params={"b": []})
            .result(120)
            .collect()
        )
        assert rows == []


def test_batch_return_anonymous_var_refused(mapi):
    with pytest.raises(CypherUnsupported, match="named node variable"):
        mapi.cypher(
            "UNWIND $b AS row CREATE (:Q {ID: row.i}) RETURN 1 AS one",
            graph="um",
            params={"b": [{"i": 60}]},
        )


def test_batch_merge_extra_params_inline(mapi):
    """Non-batch $params in ON SET values inline as literals (the
    write path's binding rule); unbound markers refuse."""
    mapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON CREATE SET n.price = $base",
        graph="um",
        params={"b": [{"sku": "kp"}], "base": 7.5},
    ).result(120)
    assert ("kp", 7.5) in _state(mapi)
    with pytest.raises(CypherUnsupported, match="unbound parameter"):
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "ON CREATE SET n.price = $nope",
            graph="um",
            params={"b": [{"sku": "kq"}]},
        )


# -- batch relationship CREATE/MERGE (r10) -----------------------------------


@pytest.fixture()
def eapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [
            (1, ["P"], "u1"),
            (2, ["P"], "u2"),
            (3, ["Q"], "g1"),
            (4, ["Q"], "g2"),
        ],
        "ID long, LABELS array<string>, key string",
    )
    rels = spark.createDataFrame(
        [(1, 3, "IN", 0.5)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    api.catalog.register("ur", nodes, rels, overwrite=True)
    return api


def test_batch_rel_create_by_key(eapi):
    s = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) CREATE (a)-[:LIKES {w: row.w}]->(c)",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "w": 1.0},
                    {"u": "u1", "g": "g2", "w": 2.0},
                    {"u": "u2", "g": "g1", "w": 3.0},
                    {"u": "nosuch", "g": "g1", "w": 9.0},  # drops
                    {"u": "u1", "g": "g1", "w": 7.0},  # dup: last wins
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert s.rels_created == 3
    rows = (
        eapi.cypher(
            "MATCH (a:P)-[r:LIKES]->(c:Q) RETURN a.key AS u, "
            "c.key AS g, r.w AS w ORDER BY u, g",
            graph="ur",
        )
        .result(120)
        .collect()
    )
    assert [(r.u, r.g, r.w) for r in rows] == [
        ("u1", "g1", 7.0),
        ("u1", "g2", 2.0),
        ("u2", "g1", 3.0),
    ]


def test_batch_rel_merge_skips_existing(eapi):
    eapi.cypher(
        "UNWIND $b AS row MATCH (a:P {key: row.u}), (c:Q {key: row.g}) "
        "MERGE (a)-[:IN]->(c)",
        graph="ur",
        params={"b": [{"u": "u1", "g": "g1"}, {"u": "u2", "g": "g2"}]},
    ).result(120)
    rows = (
        eapi.cypher(
            "MATCH (:P)-[r:IN]->(:Q) RETURN count(*) AS c", graph="ur"
        )
        .result(120)
        .collect()
    )
    # (u1,g1) already existed; only (u2,g2) created
    assert rows[0].c == 2


def test_batch_rel_reversed_direction(eapi):
    eapi.cypher(
        "UNWIND $b AS row MATCH (a:P {key: row.u}), (c:Q {key: row.g}) "
        "CREATE (a)<-[:REV]-(c)",
        graph="ur",
        params={"b": [{"u": "u1", "g": "g1"}]},
    ).result(120)
    rows = (
        eapi.cypher(
            "MATCH (c:Q)-[r:REV]->(a:P) RETURN c.key AS g, a.key AS u",
            graph="ur",
        )
        .result(120)
        .collect()
    )
    assert [(r.g, r.u) for r in rows] == [("g1", "u1")]


def test_batch_rel_on_set_unnamed_rvar_refused(eapi):
    # r11: ON CREATE/ON MATCH SET is SUPPORTED on the batch rel MERGE
    # — but still needs a NAMED rel variable to target
    with pytest.raises(CypherUnsupported, match="name the merged"):
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[:LIKES]->(c) "
            "ON CREATE SET r.w = 1",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}]},
        )


# -- WHERE + RETURN on batch rel writes (r11, r10 verdict #4) --------------


def test_batch_rel_where_filters_on_anchor_and_batch(eapi):
    s = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) WHERE a.ID > 1 AND row.w > 0.5 "
            "CREATE (a)-[r:W {w: row.w}]->(c)",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "w": 9.0},  # a.ID=1 fails
                    {"u": "u2", "g": "g1", "w": 0.1},  # row.w fails
                    {"u": "u2", "g": "g2", "w": 2.0},  # passes
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert s.rels_created == 1
    rows = (
        eapi.cypher(
            "MATCH (a:P)-[r:W]->(c:Q) RETURN a.key AS u, c.key AS g",
            graph="ur",
        )
        .result(120)
        .collect()
    )
    assert [(r.u, r.g) for r in rows] == [("u2", "g2")]


def test_batch_rel_where_missing_property_drops_all(eapi):
    # openCypher: a.nosuch is NULL → predicate never true
    s = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) WHERE a.nosuch > 1 "
            "MERGE (a)-[r:W2]->(c)",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}]},
        )
        .result(120)
        .collect()[0]
    )
    assert s.rels_created == 0


def test_batch_rel_create_return(eapi):
    rows = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) CREATE (a)-[r:R1 {w: row.w}]->(c) "
            "RETURN r.w AS w",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "w": 3.0},
                    {"u": "u2", "g": "g2", "w": 4.0},
                    {"u": "nosuch", "g": "g1", "w": 9.0},  # drops
                ]
            },
        )
        .result(120)
        .collect()
    )
    assert sorted(r.w for r in rows) == [3.0, 4.0]


def test_batch_rel_create_return_post_statement_values(eapi):
    # duplicate endpoint pair: TWO return rows (one per batch row),
    # both showing the POST-statement (last-row-wins) edge
    rows = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) CREATE (a)-[r:R2 {w: row.w}]->(c) "
            "RETURN r.w AS w",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "w": 1.0},
                    {"u": "u1", "g": "g1", "w": 2.0},
                ]
            },
        )
        .result(120)
        .collect()
    )
    assert sorted(r.w for r in rows) == [2.0, 2.0]


def test_batch_rel_merge_return_matched_and_created(eapi):
    # (u1,g1) IN edge pre-exists (matched), (u2,g2) creates
    rows = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[r:IN]->(c) "
            "RETURN r.w AS w",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}, {"u": "u2", "g": "g2"}]},
        )
        .result(120)
        .collect()
    )
    # matched edge keeps its stored w=0.5; created edge has no w
    assert sorted((r.w is None, r.w) for r in rows) == [
        (False, 0.5),
        (True, None),
    ]


def test_batch_rel_return_anchor_variable_refused(eapi):
    with pytest.raises(CypherUnsupported, match="rel variable"):
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) CREATE (a)-[r:R3]->(c) "
            "RETURN a.key AS k",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}]},
        )


def test_batch_rel_return_unnamed_rvar_refused(eapi):
    with pytest.raises(CypherUnsupported, match="named"):
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) CREATE (a)-[:R4]->(c) RETURN 1 AS one",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}]},
        )


def test_batch_rel_read_unwind_still_routes_to_read(eapi):
    rows = (
        eapi.cypher(
            "UNWIND $xs AS x MATCH (n:P) WHERE n.ID = x "
            "RETURN n.key AS k",
            graph="ur",
            params={"xs": [1]},
        )
        .result(120)
        .collect()
    )
    assert [r.k for r in rows] == ["u1"]


# -- batch SET / DELETE by key (r10) ------------------------------------------


@pytest.fixture()
def sapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [
            (1, ["P"], "k1", 1.0),
            (2, ["P"], "k2", 2.0),
            (3, ["P"], "k3", 3.0),
        ],
        "ID long, LABELS array<string>, sku string, price double",
    )
    rels = spark.createDataFrame(
        [(1, 2, "K", 0.1)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    api.catalog.register("us", nodes, rels, overwrite=True)
    return api


def test_batch_set_last_wins_silent_drop_widening(sapi):
    s = (
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "SET n.price = row.p, n.tier = row.t",
            graph="us",
            params={
                "b": [
                    {"k": "k1", "p": 10.0, "t": "a"},
                    {"k": "k2", "p": 20.0, "t": "b"},
                    {"k": "k1", "p": 11.0, "t": "c"},  # dup: last wins
                    {"k": "zz", "p": 99.0, "t": "z"},  # silent drop
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert (s.op, s.props_set) == ("set", 4)
    rows = (
        sapi.cypher(
            "MATCH (n:P) RETURN n.sku AS k, n.price AS p, n.tier AS t "
            "ORDER BY k",
            graph="us",
        )
        .result(120)
        .collect()
    )
    assert [(r.k, r.p, r.t) for r in rows] == [
        ("k1", 11.0, "c"),
        ("k2", 20.0, "b"),
        ("k3", 3.0, None),
    ]


def test_batch_set_return_post_values(sapi):
    rows = (
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "SET n.price = row.p RETURN n.sku AS k, n.price AS p "
            "ORDER BY k",
            graph="us",
            params={"b": [{"k": "k2", "p": 200.0}, {"k": "k3", "p": 300.0}]},
        )
        .result(120)
        .collect()
    )
    assert [(r.k, r.p) for r in rows] == [("k2", 200.0), ("k3", 300.0)]


def test_batch_delete_needs_detach_when_edges_exist(sapi):
    with pytest.raises(RuntimeError, match="DETACH"):
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) DELETE n",
            graph="us",
            params={"b": [{"k": "k1"}]},
        ).result(120)


def test_batch_detach_delete_return_pre_values(sapi):
    rows = (
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "DETACH DELETE n RETURN n.sku AS k",
            graph="us",
            params={"b": [{"k": "k1"}]},
        )
        .result(120)
        .collect()
    )
    assert [r.k for r in rows] == ["k1"]
    left = (
        sapi.cypher(
            "MATCH (n:P) RETURN count(*) AS c", graph="us"
        )
        .result(120)
        .collect()
    )
    assert left[0].c == 2
    redges = (
        sapi.cypher(
            "MATCH ()-[r:K]->() RETURN count(*) AS c", graph="us"
        )
        .result(120)
        .collect()
    )
    assert redges[0].c == 0


def test_batch_set_additive_fold_now_supported(sapi):
    # r11: the additive fold is supported (batch-MERGE symmetry);
    # non-additive self-references still refuse (see the fold tests)
    sapi.cypher(
        "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
        "SET n.price = n.price + row.p",
        graph="us",
        params={"b": [{"k": "k1", "p": 1.0}]},
    ).result(120)
    rows = (
        sapi.cypher(
            "MATCH (n:P {sku: 'k1'}) RETURN n.price AS p", graph="us"
        )
        .result(120)
        .collect()
    )
    assert [r.p for r in rows] == [2.0]


def test_batch_set_with_where_mixing_node_and_batch_values(sapi):
    """r10: WHERE over the anchor's properties AND batch values —
    evaluated on the joined (batch row × matched node) frame."""
    s = (
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "WHERE n.price < row.cap SET n.tier = row.t",
            graph="us",
            params={
                "b": [
                    {"k": "k1", "cap": 5.0, "t": "low"},  # 1 < 5 → set
                    {"k": "k2", "cap": 5.0, "t": "low"},  # 2 < 5 → set
                    {"k": "k3", "cap": 2.0, "t": "low"},  # 3 < 2 → drop
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert s.props_set == 2
    rows = (
        sapi.cypher(
            "MATCH (n:P) RETURN n.sku AS k, n.tier AS t ORDER BY k",
            graph="us",
        )
        .result(120)
        .collect()
    )
    assert [(r.k, r.t) for r in rows] == [
        ("k1", "low"),
        ("k2", "low"),
        ("k3", None),
    ]


def test_batch_delete_with_where_and_return(sapi):
    rows = (
        sapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "WHERE n.price > 1.5 DETACH DELETE n RETURN n.sku AS k",
            graph="us",
            params={"b": [{"k": "k1"}, {"k": "k2"}, {"k": "k3"}]},
        )
        .result(120)
        .collect()
    )
    assert sorted(r.k for r in rows) == ["k2", "k3"]
    left = (
        sapi.cypher("MATCH (n:P) RETURN n.sku AS k", graph="us")
        .result(120)
        .collect()
    )
    assert [r.k for r in left] == ["k1"]


# -- additive ON MATCH folds (r10 verdict #3) ------------------------------


@pytest.fixture()
def fapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(1, ["P"], "a", 10.0), (2, ["P"], "b", None)],
        "ID long, LABELS array<string>, sku string, c double",
    )
    api.catalog.register("fold", nodes, None, overwrite=True)
    return api


def _c(api, sku):
    rows = (
        api.cypher(
            f"MATCH (n:P {{sku: '{sku}'}}) RETURN n.c AS c", graph="fold"
        )
        .result(120)
        .collect()
    )
    return [r.c for r in rows]


def test_fold_counter_upsert_with_duplicates(fapi):
    # THE canonical idiom: duplicate in-batch keys accumulate
    # sequentially; a key created mid-batch folds only its later rows
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON CREATE SET n.c = 100.0 ON MATCH SET n.c = n.c + row.d",
        graph="fold",
        params={
            "b": [
                {"sku": "a", "d": 1.0},
                {"sku": "a", "d": 2.0},
                {"sku": "new", "d": 5.0},
                {"sku": "new", "d": 7.0},
            ]
        },
    ).result(120)
    assert _c(fapi, "a") == [13.0]
    assert _c(fapi, "new") == [107.0]


def test_fold_null_base_stays_null(fapi):
    # NULL + x = NULL in Cypher — no silent zero-seeding
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON MATCH SET n.c = n.c + row.d",
        graph="fold",
        params={"b": [{"sku": "b", "d": 3.0}]},
    ).result(120)
    assert _c(fapi, "b") == [None]


def test_fold_coalesce_init_and_subtraction(fapi):
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON MATCH SET n.c = coalesce(n.c, 0) + 1",
        graph="fold",
        params={"b": [{"sku": "b"}, {"sku": "b"}, {"sku": "b"}]},
    ).result(120)
    assert _c(fapi, "b") == [3.0]
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON MATCH SET n.c = n.c - row.d",
        graph="fold",
        params={"b": [{"sku": "a", "d": 4.0}]},
    ).result(120)
    assert _c(fapi, "a") == [6.0]


def test_fold_mixed_with_plain_value_and_return(fapi):
    rows = (
        fapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "ON MATCH SET n.c = n.c + 1, n.tag = row.t "
            "RETURN n.sku AS s, n.c AS c, n.tag AS t",
            graph="fold",
            params={"b": [{"sku": "a", "t": "x"}, {"sku": "a", "t": "y"}]},
        )
        .result(120)
        .collect()
    )
    # fold accumulates (10+2), plain value takes the LAST row
    assert sorted((r.s, r.c, r.t) for r in rows) == [
        ("a", 12.0, "y"),
        ("a", 12.0, "y"),
    ]


def test_fold_null_expr_row_nulls_result(fapi):
    # a NULL fold expr on any application row → NULL (sequential:
    # NULL infects every later application)
    fapi.cypher(
        "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
        "ON MATCH SET n.c = n.c + row.d",
        graph="fold",
        params={"b": [{"sku": "a", "d": 1.0}, {"sku": "a"}]},
    ).result(120)
    assert _c(fapi, "a") == [None]


def test_non_additive_fold_refuses(fapi):
    with pytest.raises(CypherUnsupported, match="ADDITIVE"):
        fapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "ON MATCH SET n.c = n.c * 2",
            graph="fold",
            params={"b": [{"sku": "a"}]},
        )


def test_fold_on_merge_key_refuses(fapi):
    with pytest.raises(CypherUnsupported, match="MERGE-KEY"):
        fapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "ON MATCH SET n.sku = n.sku + 'x'",
            graph="fold",
            params={"b": [{"sku": "a"}]},
        )


# -- ON CREATE / ON MATCH SET on batch rel MERGE (r11) ---------------------


def test_batch_rel_merge_on_create_on_match(eapi):
    # (u1,g1) IN edge pre-exists → ON MATCH; (u2,g2) → ON CREATE
    s = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[r:IN]->(c) "
            "ON CREATE SET r.w = row.w ON MATCH SET r.w = row.w * 10",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "w": 2.0},
                    {"u": "u2", "g": "g2", "w": 3.0},
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert (s.rels_created, s.props_set) == (1, 2)
    rows = (
        eapi.cypher(
            "MATCH (a:P)-[r:IN]->(c:Q) RETURN a.key AS u, r.w AS w "
            "ORDER BY u",
            graph="ur",
        )
        .result(120)
        .collect()
    )
    assert [(r.u, r.w) for r in rows] == [("u1", 20.0), ("u2", 3.0)]


def test_batch_rel_merge_on_set_with_return(eapi):
    rows = (
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[r:OC {w: 1.0}]->(c) "
            "ON CREATE SET r.tag = row.t RETURN r.w AS w, r.tag AS t",
            graph="ur",
            params={
                "b": [
                    {"u": "u1", "g": "g1", "t": "a"},
                    {"u": "u2", "g": "g1", "t": "b"},
                ]
            },
        )
        .result(120)
        .collect()
    )
    # both create; RETURN shows the post-statement edges incl. the
    # widening ON CREATE tag
    assert sorted((r.w, r.t) for r in rows) == [(1.0, "a"), (1.0, "b")]


def test_batch_rel_merge_on_match_widening_property(eapi):
    eapi.cypher(
        "UNWIND $b AS row MATCH (a:P {key: row.u}), (c:Q {key: row.g}) "
        "MERGE (a)-[r:IN]->(c) ON MATCH SET r.boost = row.v",
        graph="ur",
        params={"b": [{"u": "u1", "g": "g1", "v": 5.0}]},
    ).result(120)
    rows = (
        eapi.cypher(
            "MATCH (a:P {key: 'u1'})-[r:IN]->(c:Q) RETURN r.boost AS b",
            graph="ur",
        )
        .result(120)
        .collect()
    )
    assert [r.b for r in rows] == [5.0]


def test_batch_rel_merge_on_match_merge_key_refused(eapi):
    with pytest.raises(CypherUnsupported, match="merge-key"):
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[r:IN {w: row.w}]->(c) "
            "ON MATCH SET r.w = 1.0",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1", "w": 1.0}]},
        )


def test_batch_rel_merge_on_set_self_reference_refused(eapi):
    with pytest.raises(CypherUnsupported, match="cannot reference"):
        eapi.cypher(
            "UNWIND $b AS row MATCH (a:P {key: row.u}), "
            "(c:Q {key: row.g}) MERGE (a)-[r:IN]->(c) "
            "ON MATCH SET r.w = r.w + 1",
            graph="ur",
            params={"b": [{"u": "u1", "g": "g1"}]},
        )


# -- additive folds in batch node SET (r11) --------------------------------


@pytest.fixture()
def nsapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(1, ["P"], "a", 10.0), (2, ["P"], "b", None), (3, ["P"], "a", 5.0)],
        "ID long, LABELS array<string>, sku string, c double",
    )
    api.catalog.register("nset", nodes, None, overwrite=True)
    return api


def test_batch_set_fold_accumulates_per_node(nsapi):
    # key 'a' matches TWO nodes — each accumulates every matching
    # row's delta; NULL base stays NULL
    s = (
        nsapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.sku}) "
            "SET n.c = n.c + row.d",
            graph="nset",
            params={
                "b": [
                    {"sku": "a", "d": 1.0},
                    {"sku": "a", "d": 2.0},
                    {"sku": "b", "d": 3.0},
                ]
            },
        )
        .result(120)
        .collect()[0]
    )
    assert s.props_set == 3
    rows = (
        nsapi.cypher(
            "MATCH (n:P) RETURN n.ID AS i, n.c AS c ORDER BY i",
            graph="nset",
        )
        .result(120)
        .collect()
    )
    assert [(r.i, r.c) for r in rows] == [(1, 13.0), (2, None), (3, 8.0)]


def test_batch_set_fold_coalesce_where_mixed_return(nsapi):
    rows = (
        nsapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.sku}) WHERE n.ID < 3 "
            "SET n.c = coalesce(n.c, 0) + 1, n.tag = row.t "
            "RETURN n.ID AS i, n.c AS c, n.tag AS t",
            graph="nset",
            params={"b": [{"sku": "b", "t": "x"}, {"sku": "a", "t": "y"}]},
        )
        .result(120)
        .collect()
    )
    assert sorted((r.i, r.c, r.t) for r in rows) == [
        (1, 11.0, "y"),
        (2, 1.0, "x"),
    ]


def test_batch_set_non_additive_fold_refused(nsapi):
    with pytest.raises(CypherUnsupported, match="ADDITIVE"):
        nsapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.sku}) SET n.c = n.c * 2",
            graph="nset",
            params={"b": [{"sku": "a"}]},
        )


def test_batch_set_fold_on_match_key_refused(nsapi):
    with pytest.raises(CypherUnsupported, match="match-key"):
        nsapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.sku}) "
            "SET n.sku = n.sku + 'x'",
            graph="nset",
            params={"b": [{"sku": "a"}]},
        )


# -- large batches: one inline-table frame, no parse limit ----------------
#
# Each batch (and each CREATE's literal rows) is ONE ``VALUES`` table.
# The per-row ``SELECT … UNION ALL`` form it replaced failed to parse
# near 1,000 rows (FAILED_TO_PARSE_TOO_COMPLEX), so every test below
# also pins that the size ceiling is gone.


@pytest.fixture()
def bigapi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(i, ["P"], f"k{i}", float(i)) for i in range(1, 1001)],
        "ID long, LABELS array<string>, sku string, price double",
    )
    rels = spark.createDataFrame(
        [], "START_ID long, END_ID long, TYPE string"
    )
    api.catalog.register("big", nodes, rels, overwrite=True)
    return api


def _read(api, q):
    return api.cypher(q, graph="big").result(300).collect()


def test_batch_merge_2000_rows(bigapi):
    # keys k501..k2500: 500 pre-existing (ON MATCH), 1,500 new (ON CREATE)
    batch = [{"sku": f"k{i}", "p": i * 0.5} for i in range(501, 2501)]
    s = (
        bigapi.cypher(
            "UNWIND $batch AS row MERGE (n:P {sku: row.sku}) "
            "ON CREATE SET n.price = row.p, n.fresh = true "
            "ON MATCH SET n.price = row.p * 10",
            graph="big",
            params={"batch": batch},
        )
        .result(300)
        .collect()[0]
    )
    assert (s.op, s.nodes_created, s.props_set) == ("merge", 1500, 3500)
    rows = _read(
        bigapi,
        "MATCH (n:P) RETURN count(*) AS n, sum(n.price) AS total, "
        "count(n.fresh) AS fresh",
    )[0]
    assert (rows.n, rows.fresh) == (2500, 1500)
    expect = (
        sum(float(i) for i in range(1, 501))  # untouched
        + sum(i * 0.5 * 10 for i in range(501, 1001))  # ON MATCH
        + sum(i * 0.5 for i in range(1001, 2501))  # ON CREATE
    )
    assert rows.total == pytest.approx(expect)
    (one,) = _read(
        bigapi, "MATCH (n:P {sku: 'k2500'}) RETURN n.price AS p, n.fresh AS f"
    )
    assert (one.p, one.f) == (1250.0, True)


def test_batch_rel_create_1000_rows(bigapi):
    batch = [{"x": f"k{i}", "y": f"k{i % 1000 + 1}"} for i in range(1, 1001)]
    s = (
        bigapi.cypher(
            "UNWIND $b AS row MATCH (a:P {sku: row.x}), (b:P {sku: row.y}) "
            "CREATE (a)-[:T]->(b)",
            graph="big",
            params={"b": batch},
        )
        .result(300)
        .collect()[0]
    )
    assert s.rels_created == 1000
    rows = _read(
        bigapi,
        "MATCH (a:P)-[:T]->(b:P) RETURN count(*) AS n, "
        "sum(b.ID - a.ID) AS d",
    )[0]
    # a ring: 999 steps of +1 and one wrap-around step of -999
    assert (rows.n, rows.d) == (1000, 0)


def test_batch_set_1000_rows(bigapi):
    batch = [{"k": f"k{i}", "p": -i, "t": f"t{i % 3}"} for i in range(1, 1001)]
    s = (
        bigapi.cypher(
            "UNWIND $b AS row MATCH (n:P {sku: row.k}) "
            "SET n.price = row.p, n.tier = row.t",
            graph="big",
            params={"b": batch},
        )
        .result(300)
        .collect()[0]
    )
    assert (s.op, s.props_set) == ("set", 2000)
    rows = _read(
        bigapi,
        "MATCH (n:P) RETURN n.tier AS t, count(*) AS n, sum(n.price) AS p "
        "ORDER BY t",
    )
    assert [(r.t, r.n, r.p) for r in rows] == [
        (f"t{j}", len(ids), -float(sum(ids)))
        for j in range(3)
        for ids in [[i for i in range(1, 1001) if i % 3 == j]]
    ]


def test_batch_create_1000_rows(bigapi):
    batch = [{"i": 5000 + i, "name": f"n{i}", "w": i} for i in range(1000)]
    s = (
        bigapi.cypher(
            "UNWIND $batch AS row CREATE (n:L {ID: row.i, name: row.name, "
            "w: row.w})",
            graph="big",
            params={"batch": batch},
        )
        .result(300)
        .collect()[0]
    )
    assert (s.op, s.nodes_created, s.props_set) == ("create", 1000, 2000)
    rows = _read(
        bigapi,
        "MATCH (n:L) RETURN count(*) AS n, sum(n.w) AS w, "
        "min(n.ID) AS lo, max(n.ID) AS hi, count(DISTINCT n.name) AS names",
    )[0]
    assert tuple(rows) == (1000, sum(range(1000)), 5000, 5999, 1000)


# -- type parity: the inline table types values as UNION ALL did ----------

#: one batch covering every coercion case: ``v`` mixes int and float,
#: is NULL on one row and missing on another; ``note`` carries ``'``
#: and ``\``; ``w`` mixes int and string literals (the one case where
#: an inline table's own coercion refuses what UNION ALL promoted);
#: ``extra`` is a new property only one row sets. Every property but
#: ``sku`` widens the node schema.
_PARITY_BATCH = [
    {"sku": "a", "v": 1, "note": "it's", "w": 1, "extra": 7},
    {"sku": "b", "v": 2.5, "note": "back\\slash", "w": "2"},
    {"sku": "c", "v": None, "note": "both ' and \\ here", "w": 3},
    {"sku": "d", "note": None, "extra": None},
]

#: what the per-row UNION ALL frames stored for that batch
_PARITY_TYPES = "struct<sku:string,v:double,note:string,w:bigint,extra:int>"
_PARITY_ROWS = [
    ("a", 1.0, "it's", 1, 7),
    ("b", 2.5, "back\\slash", 2, None),
    ("c", None, "both ' and \\ here", 3, None),
    ("d", None, None, None, None),
    ("k1", None, None, None, None),
]


def _parity_state(api):
    df = api.cypher(
        "MATCH (n:P) RETURN n.sku AS sku, n.v AS v, n.note AS note, "
        "n.w AS w, n.extra AS extra ORDER BY sku",
        graph="um",
    ).result(120)
    return df.schema.simpleString(), [tuple(r) for r in df.collect()]


def test_inline_table_type_parity_merge(mapi):
    s = (
        mapi.cypher(
            "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
            "ON CREATE SET n.v = row.v, n.note = row.note, n.w = row.w, "
            "n.extra = row.extra",
            graph="um",
            params={"b": _PARITY_BATCH},
        )
        .result(120)
        .collect()[0]
    )
    assert (s.nodes_created, s.props_set) == (4, 16)
    assert _parity_state(mapi) == (_PARITY_TYPES, _PARITY_ROWS)


def test_inline_table_type_parity_create(mapi):
    # the CREATE expansion refuses backslashes in string literals (no
    # dialect-neutral form), so this form carries quotes only
    batch = [dict(e) for e in _PARITY_BATCH]
    batch[1]["note"], batch[2]["note"] = "plain", "quote ' only"
    s = (
        mapi.cypher(
            "UNWIND $b AS row CREATE (n:P {sku: row.sku, v: row.v, "
            "note: row.note, w: row.w, extra: row.extra})",
            graph="um",
            params={"b": batch},
        )
        .result(120)
        .collect()[0]
    )
    assert (s.nodes_created, s.props_set) == (4, 13)
    rows = list(_PARITY_ROWS)
    rows[1] = ("b", 2.5, "plain", 2, None)
    rows[2] = ("c", None, "quote ' only", 3, None)
    assert _parity_state(mapi) == (_PARITY_TYPES, rows)


def test_inline_table_string_number_mix_refused_without_ansi(mapi, spark):
    # without ANSI, UNION ALL stored the mix as STRING; the inline
    # table's CAST would store NULL for "x", so the write refuses
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(RuntimeError, match="'w' mix strings"):
            mapi.cypher(
                "UNWIND $b AS row MERGE (n:P {sku: row.sku}) "
                "ON CREATE SET n.w = row.w",
                graph="um",
                params={"b": [{"sku": "a", "w": 1}, {"sku": "b", "w": "x"}]},
            ).result(120)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert "a" not in [r[0] for r in _state(mapi)]


def test_inline_table_keeps_nondeterministic_values(mapi):
    # rand() cannot live in an inline table: it is evaluated per row
    # over it, so each created node still draws its own value
    s = (
        mapi.cypher(
            "CREATE (a:R {r: rand()}), (b:R {r: rand(), s: 1}), (c:R {s: 2})",
            graph="um",
        )
        .result(120)
        .collect()[0]
    )
    assert s.nodes_created == 3
    rows = mapi.cypher(
        "MATCH (n:R) RETURN n.r AS r, n.s AS s ORDER BY s", graph="um"
    ).result(120).collect()
    rs = [r.r for r in rows if r.r is not None]
    assert len(rs) == 2 and len(set(rs)) == 2
    assert all(0.0 <= r < 1.0 for r in rs)
    assert sorted((r.s for r in rows), key=str) == [1, 2, None]

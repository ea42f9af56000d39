"""Independent Cypher golden corpus (round-6 verdict task #1).

Every ``cypher_*`` registry oracle is generated by the SAME transpiler
in DuckDB dialect, so a semantic misreading of Cypher reproduces
identically on both sides and passes the oracle gate (the r4
rel-uniqueness bug was exactly this class). This suite closes that hole:
expected rows are HAND-COMPUTED from openCypher semantics on a small
fixture graph with directed cycles, PARALLEL edges, multi-labels, an
isolated node, and NULL properties — and asserted as literals. Nothing
here imports or derives expectations from the transpiler's oracle side;
``cypher_to_sql`` is used only to RUN the system under test.

Documented divergences are asserted AS the divergence, each with a
comment computing what openCypher would return and why the engine
differs (unbounded multiplicity-sensitive shapes enumerate hop-guarded
walks, not edge-unique paths; minlen >= 2 frontier reachability is
walk-reachability). Relationship identity is TRUE openCypher since r7:
the fixture rels carry the REL_ID column every catalog graph's edges do,
so exact/parallel duplicate edges are distinct relationships (the old
triple-identity divergence is gone — g08 asserts the openCypher rows).

Fixture graph:

    nodes: 1 P alice 30 | 2 P bob 25 | 3 P carol 35
           4 P,Q dave 40 | 5 Q erin NULL | 6 R frank 50 (isolated)
    rels:  e1 (1-K->2 w=1)  e2 (1-K->2 w=5)   <- parallel K pair
           e3 (2-K->3 w=2)  e4 (3-K->1 w=3)   <- directed 3-cycle
           e5 (4-T->2 w=1.5) e6 (2-T->4 w=2.5) <- directed 2-cycle
           e7 (5-T->4 w=NULL)
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.cypher import CypherUnsupported, cypher_to_sql

NODES = [
    (1, ["P"], "alice", 30),
    (2, ["P"], "bob", 25),
    (3, ["P"], "carol", 35),
    (4, ["P", "Q"], "dave", 40),
    (5, ["Q"], "erin", None),
    (6, ["R"], "frank", 50),
]
RELS = [
    (i, s, t, ty, w)
    for i, (s, t, ty, w) in enumerate(
        [
            (1, 2, "K", 1.0),
            (1, 2, "K", 5.0),
            (2, 3, "K", 2.0),
            (3, 1, "K", 3.0),
            (4, 2, "T", 1.5),
            (2, 4, "T", 2.5),
            (5, 4, "T", None),
        ]
    )
]


@pytest.fixture(scope="module")
def golden(spark):
    nodes = spark.createDataFrame(
        NODES, "ID long, LABELS array<string>, name string, age long"
    )
    rels = spark.createDataFrame(
        RELS,
        "REL_ID long, START_ID long, END_ID long, TYPE string, w double",
    )
    nodes.createOrReplaceTempView("goldnodes")
    rels.createOrReplaceTempView("goldrels")

    # the 7-row fixture needs no parallelism: 1 shuffle partition
    # halves per-query wall (exchange/task overhead dominates); restored
    # after the module so other suites keep the session default
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")

    def run(
        cypher: str,
        max_hops: int | None = 5,
        columns: bool = False,
        node_props: list[str] | None = None,
        prop_types: dict[str, str] | None = None,
    ):
        # default hop guard 5 (fixture diameter <= 4): each recursion
        # iteration is a full Spark job (~1s), so the production guard
        # of 10 doubled every unbounded test's wall for nothing. Tests
        # whose EXPECTATIONS pin the production guard pass max_hops=10.
        # node_props opts a test into the schema-aware missing-property
        # NULL resolution; prop_types into the type-polymorphic
        # size()/+/isEmpty dispatch (api.cypher always passes both).
        sql = cypher_to_sql(
            cypher, "goldnodes", "goldrels", rel_id=True, max_hops=max_hops,
            rel_props=["w"], node_props=node_props, prop_types=prop_types,
        )
        df = spark.sql(sql)
        if columns:
            return df.columns, [tuple(r) for r in df.collect()]
        return [tuple(r) for r in df.collect()]

    yield run
    spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


# -- scans, labels, NULL comparison semantics -------------------------------

def test_g01_label_scan(golden):
    assert golden("MATCH (n:P) RETURN n.name AS name ORDER BY name") == [
        ("alice",), ("bob",), ("carol",), ("dave",),
    ]


def test_g02_multi_label_scan(golden):
    # dave carries [P, Q]: a :Q scan must see him
    assert golden("MATCH (n:Q) RETURN n.name AS name ORDER BY name") == [
        ("dave",), ("erin",),
    ]


def test_g03_null_comparison_excludes(golden):
    # erin's age is NULL: `NULL > 28` is not TRUE, so she is excluded
    # (openCypher ternary logic), as is bob (25)
    assert golden(
        "MATCH (n) WHERE n.age > 28 RETURN n.name AS name ORDER BY name"
    ) == [("alice",), ("carol",), ("dave",), ("frank",)]


def test_g04_is_null_predicate(golden):
    assert golden(
        "MATCH (n:Q) WHERE n.age IS NULL RETURN n.name AS name"
    ) == [("erin",)]


# -- hops, parallel edges, undirected ---------------------------------------

def test_g05_directed_hop_sees_both_parallel_edges(golden):
    # e1 and e2 are DISTINCT relationships alice->bob: one row each
    assert golden(
        "MATCH (a:P)-[r:K]->(b) "
        "RETURN a.name AS a, b.name AS b, r.w AS w ORDER BY a, b, w"
    ) == [
        ("alice", "bob", 1.0),
        ("alice", "bob", 5.0),
        ("bob", "carol", 2.0),
        ("carol", "alice", 3.0),
    ]


def test_g06_undirected_hop(golden):
    # K edges incident to bob: e1, e2 (from alice), e3 (to carol)
    assert golden(
        "MATCH (a:P {name: 'bob'})-[r:K]-(x) "
        "RETURN x.name AS name, r.w AS w ORDER BY name, w"
    ) == [("alice", 1.0), ("alice", 5.0), ("carol", 2.0)]


def test_g07_rel_uniqueness_two_slots(golden):
    # incoming T to dave(4): e6 (from bob), e7 (from erin); r1 != r2
    # gives the two orderings. b=bob has only ONE incoming T (e5), and
    # binding r1 = r2 is forbidden -> no rows for it.
    assert golden(
        "MATCH (a)-[r1:T]->(b)<-[r2:T]-(c) "
        "RETURN a.name AS a, b.name AS b, c.name AS c ORDER BY a"
    ) == [("bob", "dave", "erin"), ("erin", "dave", "bob")]


def test_g08_parallel_edges_true_identity(golden):
    # r7: relationship identity is the REL_ID column, so the
    # parallel pair e1/e2 are DISTINCT relationships — r1=e1,r2=e2 and
    # r1=e2,r2=e1 both match at b=bob: 2 rows (alice, bob, alice),
    # exactly openCypher. (Under the old (START, END, TYPE) triple
    # identity this returned 0 rows — the r6-documented divergence,
    # now closed.)
    assert golden(
        "MATCH (a)-[r1:K]->(b)<-[r2:K]-(c) "
        "RETURN a.name AS a, b.name AS b, c.name AS c"
    ) == [
        ("alice", "bob", "alice"),
        ("alice", "bob", "alice"),
    ]


def test_g09_two_cycle_distinct_edges_allowed(golden):
    # bob -e6-> dave -e5-> bob: two DISTINCT edges close the 2-cycle;
    # openCypher allows it and so does the triple-identity check
    assert golden(
        "MATCH (a:P {name: 'bob'})-[r1:T]->(b)-[r2:T]->(a) "
        "RETURN b.name AS name"
    ) == [("dave",)]


# -- variable-length: bounded ----------------------------------------------

def test_g10_varlength_bounded_counts_parallel_paths(golden):
    # L1: alice->bob via e1 / e2 = 2 paths; L2: alice->bob->carol,
    # first hop e1 or e2 = 2 paths. openCypher agrees (no edge reuse
    # needed at these lengths).
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*1..2]->(b) "
        "RETURN b.name AS name, count(*) AS paths ORDER BY name"
    ) == [("bob", 2), ("carol", 2)]


def test_g11_varlength_closes_cycle(golden):
    # alice->bob->carol->alice: 2 paths (e1/e2 first hop); exact vs
    # openCypher (3 distinct edges per path)
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*3..3]->(b) "
        "RETURN b.name AS name, count(*) AS paths"
    ) == [("alice", 2)]


def test_g12_varlength_path_uniqueness(golden):
    # r8: per-path relationship uniqueness IS enforced in the bounded
    # expansion (physical row identity: triple + all props, null-safe).
    # Length-4 alice->bob: the walks e{1,2} e3 e4 e{1,2} reuse their
    # first edge except e1..e2 and e2..e1 (the parallel K pair differs
    # in w, so the identity keeps them distinct) = 2 paths — the exact
    # openCypher answer.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*4..4]->(b) "
        "RETURN b.name AS name, count(*) AS paths"
    ) == [("bob", 2)]


# -- variable-length: unbounded (recursive CTE) -----------------------------

def test_g13_unbounded_distinct_reachability_exact_on_cycle(golden):
    # distinct-frontier mode: reachable set from alice through K is the
    # whole 3-cycle. Exact vs openCypher (any directed walk contains an
    # edge-distinct trail with the same endpoints).
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*]->(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",)]


def test_g14_unbounded_min_hops(golden):
    # >= 2 hops from alice: carol (L2), alice (L3), bob (L4)
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*2..]->(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",)]


def test_g15_unbounded_walk_count_divergence(golden):
    # DOCUMENTED DIVERGENCE (walk enumeration under the 10-hop guard,
    # not edge-unique path enumeration). Adjacency from alice:
    # 1->2 (x2 parallel), 2->3, 3->1. Walks of length L from node 1
    # double every 3 hops: to bob 2+4+8+16=30 (L=1,4,7,10), to carol
    # 2+4+8=14, to alice 2+4+8=14. openCypher (edge-unique paths)
    # would give bob 4, carol 4, alice 2.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*]->(b) "
        "RETURN b.name AS name, count(*) AS walks ORDER BY name",
        max_hops=10,
    ) == [("alice", 14), ("bob", 30), ("carol", 14)]


def test_g16_unbounded_isolated_node_empty(golden):
    assert golden(
        "MATCH (a:R {name: 'frank'})-[:K*]-(b) "
        "RETURN DISTINCT b.name AS name"
    ) == []


def test_g17_undirected_unbounded_self_reach_divergence(golden):
    # Undirected closure from erin: 5-4 (e7), then 4-2 (e5/e6).
    # openCypher reach = {dave, bob}; erin herself is NOT reachable
    # (the only closed trail 5-e7-4-e7-5 reuses e7).
    # DOCUMENTED DIVERGENCE: symmetric-closure walk reachability
    # over-reports s->s when the start's component has no edge-distinct
    # closed trail through s (single-edge backtrack) -> erin appears.
    # For every t != s undirected walk-reach == path-reach (exact).
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[:T*]-(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("bob",), ("dave",), ("erin",)]


# -- OPTIONAL MATCH and NULL aggregation ------------------------------------

def test_g18_optional_match_preserves_anchor(golden):
    assert golden(
        "MATCH (n:R) OPTIONAL MATCH (n)-[r:K]->(m) "
        "RETURN n.name AS name, m.ID AS mid"
    ) == [("frank", None)]


def test_g19_count_star_vs_count_expr_over_null(golden):
    # count(*) counts the null-extended row; count(m.ID) skips NULL
    assert golden(
        "MATCH (n:R) OPTIONAL MATCH (n)-[r:K]->(m) "
        "RETURN count(*) AS all_rows, count(m.ID) AS matched"
    ) == [(1, 0)]


def test_g20_aggregates_skip_nulls(golden):
    # Q nodes: dave (40), erin (NULL) — count(n.age) skips the NULL,
    # min/max ignore it
    assert golden(
        "MATCH (n:Q) RETURN count(*) AS c, count(n.age) AS ca, "
        "min(n.age) AS mn, max(n.age) AS mx"
    ) == [(2, 1, 40, 40)]


# -- projection modifiers ---------------------------------------------------

def test_g21_distinct_projection(golden):
    assert golden(
        "MATCH (a:P)-[:K]->(b) RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",)]


def test_g22_order_skip_limit(golden):
    # P names desc: dave, carol, bob, alice -> skip 1 limit 2
    assert golden(
        "MATCH (n:P) RETURN n.name AS name ORDER BY name DESC SKIP 1 LIMIT 2"
    ) == [("carol",), ("bob",)]


def test_g23_shortest_path_lengths(golden):
    # shortest K-trail lengths from alice: bob 1, carol 2, alice 3
    # (1->2->3->1); within the declared *1..3 window, same as openCypher
    assert golden(
        "MATCH p = shortestPath((a:P {name: 'alice'})-[:K*1..3]->(b:P)) "
        "RETURN b.name AS name, length(p) AS hops ORDER BY name"
    ) == [("alice", 3), ("bob", 1), ("carol", 2)]


def test_g25_pipeline_two_stage(golden):
    # stage 1 — incoming K per node: bob 2 (e1, e2), carol 1 (e3),
    # alice 1 (e4). stage 2 — re-join outgoing K: alice -> bob via
    # e1/e2 (2 rows), bob -> carol (1), carol -> alice (1).
    assert golden(
        "MATCH (a:P)-[r:K]->(b) WITH b, count(*) AS inc "
        "MATCH (b)-[r2:K]->(c) "
        "RETURN b.name AS name, inc, count(*) AS outc ORDER BY name"
    ) == [("alice", 1, 2), ("bob", 2, 1), ("carol", 1, 1)]


def test_g26_pipeline_stage_filter(golden):
    # WHERE on the WITH stage (HAVING): only bob has inc > 1
    assert golden(
        "MATCH (a:P)-[r:K]->(b) WITH b, count(*) AS inc WHERE inc > 1 "
        "MATCH (b)-[r2:K]->(c) "
        "RETURN b.name AS name, inc, count(*) AS outc"
    ) == [("bob", 2, 1)]


def test_g27_where_between_match_conjunctive(golden):
    # MATCH (n) WHERE n.age > 28 MATCH (n)-[:K]->(m): ages filter to
    # alice(30), carol(35), dave(40), frank(50); of those only alice
    # (e1, e2 -> bob) and carol (e4 -> alice) have outgoing K
    assert golden(
        "MATCH (n:P) WHERE n.age > 28 MATCH (n)-[r:K]->(m) "
        "RETURN n.name AS name, count(*) AS edges ORDER BY name"
    ) == [("alice", 2), ("carol", 1)]


def test_g32_path_var_length_over_varlength(golden):
    # K paths from alice(1), lengths 1..2: L1 = e1, e2 (parallel pair,
    # both 1->2/bob); L2 = (e1,e3), (e2,e3) both reaching carol. One
    # row per enumerated path; length(p) is the hop count.
    assert golden(
        "MATCH p = (a:P {name: 'alice'})-[:K*1..2]->(b) "
        "RETURN length(p) AS lp, b.name AS name, count(*) AS c "
        "ORDER BY lp"
    ) == [(1, "bob", 2), (2, "carol", 2)]


def test_g33_path_var_nodes_and_where(golden):
    # nodes(p) renders the path's node-id string (documented
    # string-not-list divergence, as collect()); WHERE length(p) = 2
    # keeps only the two (e1,e3)/(e2,e3) paths 1->2->3
    assert golden(
        "MATCH p = (a:P {name: 'alice'})-[:K*1..2]->(b) "
        "WHERE length(p) = 2 "
        "RETURN nodes(p) AS np, count(*) AS c ORDER BY np"
    ) == [("1,2,3", 2)]


def test_g34_path_var_undirected_varlength(golden):
    # undirected T paths from erin(5), length 1..2: "5,4" (e7);
    # "5,4,2" twice (e7 then e5 or e6 in either orientation); the
    # "5,4,5" immediate e7 backtrack is excluded (r8 per-path edge
    # uniqueness) — the exact openCypher answer.
    assert golden(
        "MATCH p = (a:Q {name: 'erin'})-[:T*1..2]-(b) "
        "RETURN nodes(p) AS np, count(*) AS c ORDER BY np"
    ) == [("5,4", 1), ("5,4,2", 2)]


def test_g35_varlength_in_match_after_with(golden):
    # carried ids re-anchor a *1..2 K expansion. From alice(1): e1/e2
    # to bob (x2), then ->carol via e3 (x2). From bob(2): carol (e3),
    # then ->alice. From carol(3): alice (e4), then ->bob via e1/e2.
    # dave(4) has no outgoing K.
    assert golden(
        "MATCH (n:P) WITH n.ID AS nid, n.age AS age "
        "MATCH (nid)-[:K*1..2]->(y) "
        "RETURN age, y.name AS target, count(*) AS paths "
        "ORDER BY age, target"
    ) == [
        (25, "alice", 1), (25, "carol", 1),
        (30, "bob", 2), (30, "carol", 2),
        (35, "alice", 1), (35, "bob", 2),
    ]


def test_g36_varlength_after_aggregating_with(golden):
    # stage 1 aggregates K in-degree per endpoint: bob(2)<-e1,e2 =2;
    # carol(3)<-e3 =1; alice(1)<-e4 =1. Stage 2 expands *1..2 from the
    # carried id; grouping by (indeg, target) merges alice's and
    # carol's rows (both indeg 1): from 3: alice(1), bob(2); from 1:
    # bob(2), carol(2); from 2: carol(1), alice(1).
    assert golden(
        "MATCH (a:P)-[:K]->(b) WITH b.ID AS bid, count(*) AS indeg "
        "MATCH (bid)-[:K*1..2]->(t) "
        "RETURN indeg, t.name AS target, count(*) AS paths "
        "ORDER BY indeg, target"
    ) == [
        (1, "alice", 1), (1, "bob", 4), (1, "carol", 2),
        (2, "alice", 1), (2, "carol", 1),
    ]


def test_g37_shortest_path_with_stage_filter(golden):
    # shortest K paths from alice(1): (1,2) d=1 via e1/e2, (1,3) d=2,
    # (1,1) d=3 around the cycle. The WITH stage filter d >= 2 drops
    # the bob pair.
    assert golden(
        "MATCH p = shortestPath((a:P {name:'alice'})-[:K*1..3]->(b)) "
        "WITH b.name AS nm, length(p) AS d WHERE d >= 2 "
        "RETURN nm, d ORDER BY nm"
    ) == [("alice", 3), ("carol", 2)]


def test_g38_shortest_path_with_aggregate(golden):
    # per-pair shortest first (the shortestPath contract), THEN the
    # WITH aggregates over pairs per source: every P source reaches
    # some P at distance 1 (alice->bob e1/e2, bob->carol e3,
    # carol->alice e4); dave has no outgoing K.
    assert golden(
        "MATCH p = shortestPath((a:P)-[:K*1..3]->(b:P)) "
        "WITH a.name AS src, min(length(p)) AS best "
        "RETURN src, best ORDER BY src"
    ) == [("alice", 1), ("bob", 1), ("carol", 1)]


def test_g39_shortest_path_then_match(golden):
    # shortest pairs from alice via K*1..2: (bob, 1), (carol, 2);
    # re-anchor on the endpoint id over T: bob(2)-T->dave(4) (e6);
    # carol(3) has no outgoing T.
    assert golden(
        "MATCH p = shortestPath((a:P {name:'alice'})-[:K*1..2]->(b)) "
        "WITH b.ID AS bid, length(p) AS d "
        "MATCH (bid)-[:T]->(c) "
        "RETURN d, c.name AS nxt"
    ) == [(1, "dave")]


def test_g40_unwind_after_with(golden):
    # 4 P nodes -> c = 4; range(1, c) is Cypher-inclusive
    assert golden(
        "MATCH (n:P) WITH count(*) AS c "
        "UNWIND range(1, c) AS i RETURN i, c ORDER BY i"
    ) == [(1, 4), (2, 4), (3, 4), (4, 4)]


def test_g41_unwind_between_with_stages(golden):
    # ages 30+25+35+40 = 130, each multiplied by i in {1,2}: 130*3
    assert golden(
        "MATCH (n:P) WITH n.age AS age "
        "UNWIND range(1, 2) AS i WITH age * i AS v "
        "RETURN sum(v) AS total"
    ) == [(390,)]


def test_g42_unwind_literal_after_with(golden):
    assert golden(
        "MATCH (n:Q) WITH n.name AS nm "
        "UNWIND [1, 2] AS k RETURN nm, k ORDER BY nm, k"
    ) == [("dave", 1), ("dave", 2), ("erin", 1), ("erin", 2)]


def test_g31_undirected_bounded_varlength(golden):
    # undirected T expansion from erin(5): L1 via e7 -> dave.
    # L2: 5~4 then {e5 -> bob, e6 -> bob}; the immediate e7 backtrack
    # to erin is excluded (r8 per-path edge uniqueness) — the exact
    # openCypher answer.
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[:T*1..2]-(b) "
        "RETURN b.name AS name, count(*) AS walks ORDER BY name"
    ) == [("bob", 2), ("dave", 1)]


def test_g29_optional_match_varlength(golden):
    # T edges: e5 (4->2), e6 (2->4), e7 (5->4). Paths of length 1..2
    # from each P node: bob -> {dave (e6), bob (e6,e5)} = 2;
    # dave -> {bob (e5), dave (e5,e6)} = 2; alice/carol none ->
    # anchor row survives null-extended with count 0.
    assert golden(
        "MATCH (n:P) OPTIONAL MATCH (n)-[:T*1..2]->(m) "
        "RETURN n.name AS name, count(m.ID) AS paths ORDER BY name"
    ) == [("alice", 0), ("bob", 2), ("carol", 0), ("dave", 2)]


def test_g30_leading_with_constant_into_match(golden):
    # WITH 30 AS cutoff: alice's age (30) is NOT > 30; bob 25 below;
    # erin NULL never passes; carol 35 and dave 40 qualify
    assert golden(
        "WITH 30 AS cutoff MATCH (n:P) WHERE n.age > cutoff "
        "RETURN n.name AS name ORDER BY name"
    ) == [("carol",), ("dave",)]


def test_g28_unwind_feeding_with_stage(golden):
    # UNWIND multiplies each matched row by the list length before the
    # WITH aggregation (openCypher row semantics): 2 P-nodes with
    # age > 28 and outgoing K (alice x2 edges, carol x1) -> alice gets
    # 2 edges x 2 unwind rows = 4, carol 1 x 2 = 2
    assert golden(
        "MATCH (n:P)-[r:K]->(m) WHERE n.age > 28 UNWIND [1, 2] AS x "
        "WITH n.name AS name, count(*) AS c "
        "RETURN name, c ORDER BY name"
    ) == [("alice", 4), ("carol", 2)]


def test_g24_type_alternation(golden):
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[r:T|K]->(b) RETURN b.name AS name"
    ) == [("dave",)]


# -- OPTIONAL MATCH target labels/props (r6 nested-join emission) ----------

def test_g43_optional_target_label(golden):
    # T edges among P nodes: bob -T-> dave (:P:Q matches :Q), dave -T->
    # bob (:P only — label fails, null). alice/carol have no T at all.
    assert golden(
        "MATCH (n:P) OPTIONAL MATCH (n)-[:T]->(m:Q) "
        "RETURN n.name AS name, m.name AS t ORDER BY name"
    ) == [("alice", None), ("bob", "dave"), ("carol", None), ("dave", None)]


def test_g44_optional_two_hop_multiplicity(golden):
    # alice -K-> bob via e1 AND e2 (parallel), bob -T-> dave: the full
    # pattern matches twice, one row per binding
    assert golden(
        "MATCH (n:P {name: 'alice'}) OPTIONAL MATCH (n)-[r1:K]->(x)-[r2:T]->(y) "
        "RETURN n.name AS name, x.name AS x, y.name AS y ORDER BY y"
    ) == [("alice", "bob", "dave"), ("alice", "bob", "dave")]


def test_g45_optional_prefix_match_is_all_or_nothing(golden):
    # alice -K-> bob (e1, e2), bob -K-> carol, but carol has NO
    # outgoing T: the whole pattern fails, so openCypher yields exactly
    # ONE row with every optional variable null — not one null row per
    # matching prefix (the flat LEFT-JOIN chain's divergence, fixed by
    # the nested-join emission)
    assert golden(
        "MATCH (n:P {name: 'alice'}) "
        "OPTIONAL MATCH (n)-[:K]->(x)-[:K]->(y)-[:T]->(z) "
        "RETURN n.name AS name, x.name AS x, z.name AS z"
    ) == [("alice", None, None)]


def test_g46_optional_target_property(golden):
    # dave -T-> bob {name: 'bob'} matches; erin -T-> dave fails the
    # property test -> null
    assert golden(
        "MATCH (n:Q) OPTIONAL MATCH (n)-[:T]->(m {name: 'bob'}) "
        "RETURN n.name AS name, m.ID AS mid ORDER BY name"
    ) == [("dave", 2), ("erin", None)]


def test_g47_order_by_aggregate_expression(golden):
    # ORDER BY count(*) DESC resolves against the RETURN item: bob has
    # K-degree 3 (e1+e2 in, e3 out), alice 3 (e1+e2 out, e4 in) — tie
    # broken by name; carol 2
    assert golden(
        "MATCH (a:P)-[r:K]-(x) RETURN a.name AS name, count(*) AS deg "
        "ORDER BY count(*) DESC, name"
    ) == [("alice", 3), ("bob", 3), ("carol", 2)]


# -- pattern predicates, EXISTS {} and COUNT {} subqueries (r6) ------------

def test_g48_bare_pattern_predicate(golden):
    # P nodes with an outgoing T edge: bob (e6), dave (e5)
    assert golden(
        "MATCH (n:P) WHERE (n)-[:T]->() RETURN n.name AS name ORDER BY name"
    ) == [("bob",), ("dave",)]


def test_g49_not_pattern_predicate(golden):
    # P nodes with NO outgoing K: dave (alice e1/e2, bob e3, carol e4)
    assert golden(
        "MATCH (n:P) WHERE NOT (n)-[:K]->() RETURN n.name AS name"
    ) == [("dave",)]


def test_g50_count_subquery_directed(golden):
    # outgoing K degree: alice 2 (parallel e1+e2 are DISTINCT rels),
    # bob 1, carol 1, dave 0
    assert golden(
        "MATCH (n:P) RETURN n.name AS name, "
        "COUNT { (n)-[:K]->() } AS deg ORDER BY name"
    ) == [("alice", 2), ("bob", 1), ("carol", 1), ("dave", 0)]


def test_g51_count_subquery_undirected(golden):
    # T edges incident (either direction), each edge once: alice 0,
    # bob 2 (e5 in, e6 out), carol 0, dave 3 (e5 out, e6 in, e7 in)
    assert golden(
        "MATCH (n:P) RETURN n.name AS name, "
        "COUNT { (n)-[:T]-() } AS deg ORDER BY name"
    ) == [("alice", 0), ("bob", 2), ("carol", 0), ("dave", 3)]


def test_g52_exists_brace_label_target(golden):
    # bob -T-> dave carries :Q; dave -T-> bob does not
    assert golden(
        "MATCH (n:P) WHERE EXISTS { MATCH (n)-[:T]->(:Q) } "
        "RETURN n.name AS name"
    ) == [("bob",)]


def test_g53_pattern_predicate_property_target(golden):
    # K edges into {name:'bob'}: e1/e2 from alice — EXISTS dedups the
    # parallel pair to one alice row
    assert golden(
        "MATCH (n) WHERE (n)-[:K]->({name: 'bob'}) "
        "RETURN n.name AS name"
    ) == [("alice",)]


# -- list predicates ALL/ANY/NONE/SINGLE and reduce() (r6) -----------------

def test_g54_reduce_fold(golden):
    assert golden(
        "MATCH (n:P) WHERE n.name = 'alice' "
        "RETURN reduce(s = 0, x IN [1, 2, 3] | s + x * 2) AS r"
    ) == [(12,)]


def test_g55_all_list_predicate(golden):
    # ages: alice 30, bob 25 (fails x > 28), carol 35, dave 40
    assert golden(
        "MATCH (n:P) WHERE ALL(x IN [n.age, 30] WHERE x > 28) "
        "RETURN n.name AS name ORDER BY name"
    ) == [("alice",), ("carol",), ("dave",)]


def test_g56_single_list_predicate(golden):
    # exactly ONE element > 28: bob [25, 30]; alice/carol/dave get two
    assert golden(
        "MATCH (n:P) WHERE SINGLE(x IN [n.age, 30] WHERE x > 28) "
        "RETURN n.name AS name"
    ) == [("bob",)]


def test_g57_any_null_ternary(golden):
    # erin's age is NULL: `NULL > 0` is not TRUE, so ANY over [NULL]
    # is not satisfied (openCypher ternary logic) — only dave passes
    assert golden(
        "MATCH (n:Q) WHERE ANY(x IN [n.age] WHERE x > 0) "
        "RETURN n.name AS name"
    ) == [("dave",)]


# -- varlength rel binding size(r); undirected varlength in OPTIONAL (r6) --

def test_g58_varlength_rel_variable_size(golden):
    # L1: alice-e1->bob, alice-e2->bob; L2: e1/e2 then e3 to carol
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..2]->(b) "
        "RETURN b.name AS name, size(r) AS hops ORDER BY name, hops"
    ) == [("bob", 1), ("bob", 1), ("carol", 2), ("carol", 2)]


def test_g59_optional_undirected_varlength_paths(golden):
    # r8: the OPTIONAL bounded expansion enforces per-path edge
    # uniqueness too (same identity as g12). Undirected T closure:
    # dave L1 = 3 (e5, e6 rev, e7 rev); dave L2 = 2 edge-unique paths
    # (4~2 via e5 then e6, or via e6 then e5 — backtracks excluded,
    # and 4~5 via e7 has no distinct continuation) = 5 total.
    # erin: L1 = 1 (e7); L2 = 2 (e7 then e5 or e6 to node 2) = 3 —
    # the exact openCypher answers.
    assert golden(
        "MATCH (n:Q) OPTIONAL MATCH (n)-[:T*1..2]-(m) "
        "RETURN n.name AS name, count(m) AS reach ORDER BY name"
    ) == [("dave", 5), ("erin", 3)]


# -- regex =~, split/indexing, IN expr, EXISTS inner WHERE (r6) ------------

def test_g60_regex_full_match(golden):
    # Cypher =~ is FULL-string: '[ab].*' matches alice and bob, not
    # carol/dave (start with c/d)
    assert golden(
        "MATCH (n:P) WHERE n.name =~ '[ab].*' "
        "RETURN n.name AS name ORDER BY name"
    ) == [("alice",), ("bob",)]


def test_g61_regex_is_anchored(golden):
    # substring semantics would match every name containing 'o' — full
    # match requires the WHOLE name to be 'o', so only explicit .*o.*
    assert golden(
        "MATCH (n:P) WHERE n.name =~ 'o' RETURN n.name AS name"
    ) == []
    assert golden(
        "MATCH (n:P) WHERE n.name =~ '.*o.*' RETURN n.name AS name ORDER BY name"
    ) == [("bob",), ("carol",)]


def test_g62_split_and_index(golden):
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN split(n.name, 'i')[0] AS head, "
        "split(n.name, 'i')[-1] AS tail, split(n.name, 'i')[9] AS oob"
    ) == [("al", "ce", None)]


def test_g63_split_literal_separator(golden):
    # '.' must split as a LITERAL dot (Spark's regex split is escaped),
    # so a name with no dot stays whole
    assert golden(
        "MATCH (n:P {name: 'bob'}) RETURN split(n.name, '.')[0] AS whole"
    ) == [("bob",)]


def test_g64_in_array_expression(golden):
    assert golden(
        "MATCH (n:P) WHERE n.name IN split('bob,carol', ',') "
        "RETURN n.name AS name ORDER BY name"
    ) == [("bob",), ("carol",)]


def test_g65_exists_inner_where(golden):
    # K edges with w > 2: e2 (alice->bob, 5.0), e4 (carol->alice, 3.0)
    assert golden(
        "MATCH (a:P) WHERE EXISTS { MATCH (a)-[r:K]->(b) WHERE r.w > 2.0 } "
        "RETURN a.name AS name ORDER BY name"
    ) == [("alice",), ("carol",)]


# -- WITH pagination, anonymous pattern nodes (r6) -------------------------

def test_g66_with_order_limit_topk(golden):
    # K out-degrees: alice 2 (e1+e2), bob 1, carol 1 -> top-2 by
    # (deg DESC, name) = alice, bob
    assert golden(
        "MATCH (c:P)-[:K]->(m) WITH c.name AS name, count(*) AS deg "
        "ORDER BY deg DESC, name LIMIT 2 RETURN name, deg ORDER BY name"
    ) == [("alice", 2), ("bob", 1)]


def test_g67_with_limit_then_where(golden):
    # openCypher order of operations: LIMIT first, WHERE after —
    # top-3 ages (dave 40, carol 35, alice 30), then age > 30
    assert golden(
        "MATCH (c:P) WITH c.name AS name, c.age AS age "
        "ORDER BY age DESC LIMIT 3 WHERE age > 30 "
        "RETURN name ORDER BY name"
    ) == [("carol",), ("dave",)]


def test_g68_with_skip(golden):
    assert golden(
        "MATCH (c:P) WITH c.name AS name ORDER BY name SKIP 1 LIMIT 2 "
        "RETURN name ORDER BY name"
    ) == [("bob",), ("carol",)]


def test_g69_anonymous_pattern_nodes(golden):
    # anonymous endpoints: count(*) over the optional null row is 1
    # for alice/carol (no incoming T), bob 1 (e5), dave 2 (e6, e7)
    assert golden(
        "MATCH ()-[:T]->(m) RETURN m.name AS name, count(*) AS c ORDER BY name"
    ) == [("bob", 1), ("dave", 2)]
    assert golden(
        "MATCH (n:P) OPTIONAL MATCH (n)<-[:T]-() "
        "RETURN n.name AS name, count(*) AS c ORDER BY name"
    ) == [("alice", 1), ("bob", 1), ("carol", 1), ("dave", 2)]


def test_g70_property_anchored_match_after_with(golden):
    # inflow per target: bob 2 (e1+e2), carol 1 (e3), alice 1 (e4);
    # the second MATCH re-anchors BY PROPERTY on the carried name
    assert golden(
        "MATCH (c:P)-[:K]->(m) WITH m.name AS target, count(*) AS inflow "
        "MATCH (n:P {name: target}) RETURN n.age AS age, inflow ORDER BY age"
    ) == [(25, 2), (30, 1), (35, 1)]


def test_g71_alias_shadows_node_column(golden):
    # the carried alias `name` collides with the node column `name`:
    # references must resolve to the stage's alias
    assert golden(
        "MATCH (c:P)-[:K]->(m) WITH m.name AS name, count(*) AS inflow "
        "MATCH (n:P {name: name})-[:K]->(x) "
        "RETURN n.name AS src, inflow, count(*) AS outdeg ORDER BY src"
    ) == [("alice", 1, 2), ("bob", 2, 1), ("carol", 1, 1)]


def test_g72_cartesian_match_after_with(golden):
    # a fresh anchor with no props: Cypher's cartesian product
    assert golden(
        "MATCH (c:P {name: 'alice'}) WITH c.age AS age "
        "MATCH (n:Q) RETURN n.name AS name, age ORDER BY name"
    ) == [("dave", 30), ("erin", 30)]


# -- multi-hop pattern predicates / COUNT subqueries (r6) ------------------

def test_g73_exists_two_hop_chain(golden):
    # K then T: only alice (alice-K->bob, bob-T->dave); bob's K target
    # carol and carol's K target alice have no outgoing T
    assert golden(
        "MATCH (c:P) WHERE EXISTS { (c)-[:K]->()-[:T]->() } "
        "RETURN c.name AS name ORDER BY name"
    ) == [("alice",)]


def test_g74_count_two_hop_walks(golden):
    # 2-hop K walks with within-pattern rel uniqueness:
    # alice e1->e3 / e2->e3 = 2, bob e3->e4 = 1, carol e4->e1 / e4->e2
    # = 2, dave 0
    assert golden(
        "MATCH (c:P) RETURN c.name AS name, "
        "COUNT { (c)-[:K]->()-[:K]->() } AS paths2 ORDER BY name"
    ) == [("alice", 2), ("bob", 1), ("carol", 2), ("dave", 0)]


def test_g75_count_undirected_two_hop_edge_identity(golden):
    # DIVERGENCE FIXED (late r6, semantic-fuzz finding): undirected
    # slots now compare the PHYSICAL (START_ID, END_ID, TYPE) triple
    # via the union view's _OS/_OE original-orientation columns, so
    # dave's length-2 T walks pairing e5 (4->2) with e6 (2->4) — two
    # DISTINCT relationships in openCypher — count correctly: 2.
    # erin: e7 then e5 / e6-reversed from dave = 2.
    assert golden(
        "MATCH (c:Q) RETURN c.name AS name, "
        "COUNT { (c)-[:T]-()-[:T]-() } AS w2 ORDER BY name"
    ) == [("dave", 2), ("erin", 2)]


def test_g76_exists_chain_inner_where(golden):
    # r1.w > r2.w over the two hops: alice e2(5)->e3(2), carol
    # e4(3)->e1(1); bob's only chain e3(2)->e4(3) fails
    assert golden(
        "MATCH (c:P) WHERE EXISTS { (c)-[r1:K]->()-[r2:K]->() "
        "WHERE r1.w > r2.w } RETURN c.name AS name ORDER BY name"
    ) == [("alice",), ("carol",)]


def test_g77_exists_chain_bound_endpoint_and_label(golden):
    assert golden(
        "MATCH (a:P {name: 'alice'}) MATCH (b:P {name: 'carol'}) "
        "WHERE EXISTS { (a)-[:K]->()-[:K]->(b) } RETURN count(*) AS n"
    ) == [(1,)]
    # labeled intermediate: only bob reaches a :Q node that has
    # outgoing T (dave -T-> bob)
    assert golden(
        "MATCH (c:P) WHERE EXISTS { (c)-[:T]->(:Q)-[:T]->() } "
        "RETURN c.name AS name"
    ) == [("bob",)]


# -- star projections, unary minus, exponentiation (r6) --------------------

def test_g78_return_star(golden):
    # * = every named pattern node, scalarized as its id (the engine's
    # RETURN n convention), in pattern order
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K]->(b) RETURN * ORDER BY a, b"
    ) == [(1, 2), (1, 2)]  # parallel edges e1, e2 -> two rows


def test_g79_with_star_pipeline(golden):
    assert golden(
        "MATCH (a:P)-[:K]->(b) WITH * RETURN count(*) AS n"
    ) == [(4,)]


def test_g80_unary_minus_and_power(golden):
    # precedence: ^ binds tighter than *, right-associative
    assert golden(
        "MATCH (n:P {name: 'bob'}) RETURN -n.age AS neg, "
        "2 + 3 * 2 ^ 2 AS prec, 2 ^ 3 ^ 2 AS rassoc"
    ) == [(-25, 14.0, 512.0)]


# -- OPTIONAL MATCH after WITH (r6) ----------------------------------------

def test_g81_optional_match_after_with(golden):
    # inflow per node (bob 2, carol 1, alice 1), then optionally hop
    # node-T->(:Q): only bob reaches dave; others null-preserve
    assert golden(
        "MATCH (c:P)-[:K]->(m) WITH m AS node, count(*) AS inflow "
        "OPTIONAL MATCH (node)-[:T]->(t:Q) "
        "RETURN inflow, t.name AS tname ORDER BY inflow, tname"
    ) == [(1, None), (1, None), (2, "dave")]


def test_g82_optional_after_with_null_preserving_where(golden):
    # the optional clause's WHERE rides in the join: impossible filter
    # keeps every stage row with count 0
    assert golden(
        "MATCH (c:P) WITH c AS node, c.name AS name "
        "OPTIONAL MATCH (node)-[r:K]->(x) WHERE r.w > 99.0 "
        "RETURN name, count(x) AS k ORDER BY name"
    ) == [("alice", 0), ("bob", 0), ("carol", 0), ("dave", 0)]


def test_g83_optional_after_with_then_with(golden):
    # optmatch folds into a further WITH stage: sum of K out-degrees
    assert golden(
        "MATCH (c:P) WITH c AS node OPTIONAL MATCH (node)-[:K]->(x) "
        "WITH node, count(x) AS deg RETURN sum(deg) AS total"
    ) == [(4,)]


def test_g84_start_end_node_accessors(golden):
    # startNode/endNode scalarize to the endpoint ids (RETURN n
    # convention); e3 is bob(2) -K-> carol(3)
    assert golden(
        "MATCH (a:P {name: 'bob'})-[r:K]->(b) "
        "RETURN startNode(r) AS s, id(endNode(r)) AS e"
    ) == [(2, 3)]


def test_g85_widened_scalar_functions(golden):
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN "
        "concat(left(n.name, 2), right(n.name, 2)) AS snip, "
        "round(degrees(pi()), 1) AS deg, greatest(n.age, 40) AS g, "
        "toBoolean('true') AS b, least(n.age, 10) AS l"
    ) == [("alce", 180.0, 40, True, 10)]


def test_g86_list_predicate_ternary_null_logic(golden):
    # erin's NULL age: ALL over [NULL, 5] is NULL (no false, a null),
    # so NOT ALL(...) is NULL -> not TRUE -> erin EXCLUDED. dave (40):
    # ALL true -> NOT -> false -> excluded. (The r6 dialect fuzz caught
    # DuckDB's list_filter silently dropping null-predicate elements,
    # which made this row appear.)
    assert golden(
        "MATCH (n:Q) WHERE NOT (ALL(x IN [n.age, 5] WHERE x > 0)) "
        "RETURN n.name AS name"
    ) == []
    # SINGLE with a null that could change the count -> NULL -> excluded;
    # but two trues is FALSE regardless of the null
    assert golden(
        "MATCH (n:Q) WHERE SINGLE(x IN [n.age, 5] WHERE x > 0) "
        "RETURN n.name AS name"
    ) == []  # dave: two trues -> FALSE; erin: null+one true -> NULL
    assert golden(
        "MATCH (n:Q) WHERE NOT SINGLE(x IN [n.age, 1, 5] WHERE x > 2) "
        "RETURN n.name AS name"
    ) == [("dave",)]  # dave: trues {40,5} = 2 -> FALSE -> NOT -> TRUE


def test_g87_tointeger_truncates_toward_zero(golden):
    # Cypher toInteger truncates (the r6 dialect fuzz surfaced DuckDB's
    # rounding CAST; the oracle side now truncs first)
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN toInteger(12.9) AS a, "
        "toInteger(- 12.9) AS b, toInteger(0.5) AS c"
    ) == [(12, -12, 0)]


def test_g88_string_plus_concatenation(golden):
    # Cypher's + concatenates strings; detected when either side is a
    # string literal (chained literals fold left through concat)
    assert golden(
        "MATCH (n:P {name: 'bob'}) RETURN 'Mr ' + n.name + '!' AS s, "
        "n.age + 5 AS a"
    ) == [("Mr bob!", 30)]


def test_g89_order_by_null_placement(golden):
    # openCypher sorts NULL as the LARGEST value: ASC puts erin (age
    # NULL) last, DESC puts her first. (Engine defaults disagree with
    # this AND each other — Spark ASC is NULLS FIRST, DuckDB is always
    # NULLS LAST — so the emission pins NULLS FIRST/LAST explicitly.)
    assert golden(
        "MATCH (n) RETURN n.name AS name ORDER BY n.age ASC, name"
    ) == [("bob",), ("alice",), ("carol",), ("dave",), ("frank",),
          ("erin",)]
    assert golden(
        "MATCH (n) RETURN n.name AS name ORDER BY n.age DESC, name"
    ) == [("erin",), ("frank",), ("dave",), ("carol",), ("alice",),
          ("bob",)]


def test_g90_xor_ternary_logic(golden):
    # XOR truth table with NULL: erin (age NULL) -> NULL XOR false ->
    # NULL -> excluded; bob 25: false XOR false -> false; alice 30:
    # true XOR true='alice'? name='alice' is true -> false... compute:
    # cond = (age > 28) XOR (name STARTS WITH 'a'): alice T^T=F,
    # bob F^F=F, carol T^F=T, dave T^F=T, erin NULL^F=NULL, frank T^F=T
    assert golden(
        "MATCH (n) WHERE n.age > 28 XOR n.name STARTS WITH 'a' "
        "RETURN n.name AS name ORDER BY name"
    ) == [("carol",), ("dave",), ("frank",)]


def test_g91_exists_property_function(golden):
    # legacy exists(n.prop) is IS NOT NULL: only erin lacks age
    assert golden(
        "MATCH (n) WHERE exists(n.age) RETURN count(*) AS n"
    ) == [(5,)]
    assert golden(
        "MATCH (n) WHERE NOT exists(n.age) RETURN n.name AS name"
    ) == [("erin",)]


def test_g92_label_predicate_expressions(golden):
    # x:P (alice bob carol dave), x:P:Q conjunction (dave),
    # x:Q|R disjunction (dave erin frank), :P AND NOT :Q (alice bob
    # carol)
    assert golden(
        "MATCH (x) WHERE x:P RETURN count(*) AS n"
    ) == [(4,)]
    assert golden(
        "MATCH (x) WHERE x:P:Q RETURN x.name AS name"
    ) == [("dave",)]
    assert golden(
        "MATCH (x) WHERE x:Q|R RETURN x.name AS name ORDER BY name"
    ) == [("dave",), ("erin",), ("frank",)]
    assert golden(
        "MATCH (x) WHERE x:P AND NOT x:Q "
        "RETURN x.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",)]


def test_g93_chained_comparisons(golden):
    # 28 < age < 45: alice 30, carol 35, dave 40; frank 50 out; erin
    # NULL -> NULL conjunct -> excluded
    assert golden(
        "MATCH (n) WHERE 28 < n.age < 45 RETURN n.name AS name "
        "ORDER BY name"
    ) == [("alice",), ("carol",), ("dave",)]
    # chained over rel property: 1.0 <= w <= 3.0 keeps e1 e3 e4
    assert golden(
        "MATCH (a)-[r:K]->(b) WHERE 1.0 <= r.w <= 3.0 "
        "RETURN a.name AS a, r.w AS w ORDER BY a, w"
    ) == [("alice", 1.0), ("bob", 2.0), ("carol", 3.0)]


def test_g94_string_predicates_expression_rhs(golden):
    # every non-null name starts/ends with itself
    assert golden(
        "MATCH (a) WHERE a.name STARTS WITH a.name RETURN count(*) AS n"
    ) == [(6,)]
    # a.name CONTAINS first letter of b (b:Q -> dave 'd', erin 'e'):
    # 'd' in {dave}; 'e' in {alice, dave, erin} -> 4 pairs
    assert golden(
        "MATCH (a), (b:Q) WHERE a.name CONTAINS substring(b.name, 1, 1) "
        "RETURN count(*) AS n"
    ) == [(4,)]
    # expression RHS through a WITH alias
    assert golden(
        "MATCH (a:P {name: 'bob'}) WITH a.name AS nm "
        "MATCH (b) WHERE b.name ENDS WITH nm RETURN b.name AS name"
    ) == [("bob",)]


def test_g95_head_last_tail(golden):
    # labels keep the ARRAY form inside head/last/tail, sorted for
    # determinism (same contract as the labels() scalarization):
    # dave is [P, Q] -> head P, last Q, tail [Q]; alice tail []
    assert golden(
        "MATCH (n:P {name: 'dave'}) RETURN head(labels(n)) AS h, "
        "last(labels(n)) AS l, tail(labels(n)) AS t"
    ) == [("P", "Q", ["Q"])]
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN tail(labels(n)) AS t, "
        "head(split(n.name, 'l')) AS s"
    ) == [([], "a")]


def test_g95_optional_match_end_anchored(golden):
    # OPTIONAL MATCH (x)-[:T]->(a) with `a` bound at the chain's END:
    # re-anchored by reversal to (a)<-[:T]-(x). T in-edges: bob<-dave
    # (e5), dave<-bob (e6), dave<-erin (e7). alice/carol have none ->
    # NULL partner.
    assert golden(
        "MATCH (a:P) OPTIONAL MATCH (x)-[:T]->(a) "
        "RETURN a.name AS name, x.name AS src ORDER BY name, src"
    ) == [("alice", None), ("bob", "dave"), ("carol", None),
          ("dave", "bob"), ("dave", "erin")]


def test_g96_optional_match_end_anchored_two_hop(golden):
    # two-hop end-anchored chain: (y)-[:T]->(x)-[:T]->(a), a bound.
    # Walks into a via two T hops: erin-T->dave-T->bob (a=bob),
    # bob-T->dave... wait dave-T->bob then bob-T->dave gives a=dave
    # via x=bob,y=dave; and a=dave via x=erin? erin has no in-T.
    # Enumerate: pairs (y-T->x, x-T->a): (4,2)&(2,4): y=dave,x=bob,
    # a=dave; (2,4)&(4,2): y=bob,x=dave,a=bob; (5,4)&(4,2): y=erin,
    # x=dave,a=bob. alice/carol: NULL.
    assert golden(
        "MATCH (a:P) OPTIONAL MATCH (y)-[:T]->(x)-[:T]->(a) "
        "RETURN a.name AS name, y.name AS y ORDER BY name, y"
    ) == [("alice", None), ("bob", "bob"), ("bob", "erin"),
          ("carol", None), ("dave", "dave")]


def test_g97_optional_match_end_anchored_after_with(golden):
    # pipeline stage carries `a`; OPTIONAL MATCH end-anchored on it
    assert golden(
        "MATCH (a:P) WITH a.ID AS a ORDER BY a "
        "OPTIONAL MATCH (x)-[:T]->(a) "
        "RETURN a AS id, x.name AS src ORDER BY id, src"
    ) == [(1, None), (2, "dave"), (3, None), (4, "bob"), (4, "erin")]


def test_g98_transparent_with_null_check(golden):
    # `WITH a, b WHERE b IS NULL` after OPTIONAL MATCH — the classic
    # anti-join idiom. T out-edges: bob->dave, dave->bob, erin->dave;
    # P nodes without one: alice, carol.
    assert golden(
        "MATCH (a:P) OPTIONAL MATCH (a)-[r:T]->(b) "
        "WITH a, b WHERE b IS NULL RETURN a.name AS n ORDER BY n"
    ) == [("alice",), ("carol",)]


def test_g99_transparent_with_then_agg_stage(golden):
    # transparent WITH filters (b.age > 26 keeps 2->3 carol and
    # 3->1 alice; both 1->2 bob edges drop), then a real WITH
    # aggregates per source
    assert golden(
        "MATCH (a:P)-[:K]->(b) WITH a, b WHERE b.age > 26 "
        "WITH a.name AS n, count(*) AS c RETURN n, c ORDER BY n"
    ) == [("bob", 1), ("carol", 1)]


def test_g100_transparent_with_no_where(golden):
    # bare `WITH a, b` with no WHERE is a pure no-op
    assert golden(
        "MATCH (a:P)-[:K]->(b) WITH a, b "
        "RETURN a.name AS n, b.name AS m ORDER BY n, m"
    ) == [("alice", "bob"), ("alice", "bob"), ("bob", "carol"),
          ("carol", "alice")]


# -- keyword-named identifiers (labels / types / properties) ----------------
#
# openCypher reserves no words in label / relationship-type / property
# positions: `(o:Order)`, `-[:IN]->`, `o.end` are all legal and common
# in real graphs. The tokenizer keeps the raw spelling of keyword-looking
# tokens and the emitter quotes property columns that collide with SQL
# keywords (Spark backticks / DuckDB double quotes).

@pytest.fixture(scope="module")
def golden_kw(spark):
    nodes = spark.createDataFrame(
        [
            (1, ["Order"], "o1", 10),
            (2, ["Order"], "o2", 20),
            (3, ["Case"], "c1", 30),
        ],
        "ID long, LABELS array<string>, name string, `end` long",
    )
    rels = spark.createDataFrame(
        [(1, 3, "IN", 1.0), (2, 3, "IN", 2.0), (1, 2, "NOT", 9.0)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    nodes.createOrReplaceTempView("goldkwnodes")
    rels.createOrReplaceTempView("goldkwrels")

    def run(cypher: str):
        sql = cypher_to_sql(cypher, "goldkwnodes", "goldkwrels")
        return [tuple(r) for r in spark.sql(sql).collect()]

    return run


def test_g101_keyword_label_scan(golden_kw):
    assert golden_kw(
        "MATCH (o:Order) RETURN o.name AS name ORDER BY name"
    ) == [("o1",), ("o2",)]


def test_g102_keyword_property(golden_kw):
    # `end` is a Cypher keyword AND a SQL keyword — the emitted column
    # reference must be quoted on both dialects
    assert golden_kw(
        "MATCH (o:Order) WHERE o.end > 10 RETURN o.name AS name, o.end AS e"
    ) == [("o2", 20)]


def test_g103_keyword_rel_type(golden_kw):
    assert golden_kw(
        "MATCH (o:Order)-[:IN]->(c:Case) "
        "RETURN o.name AS name ORDER BY name"
    ) == [("o1",), ("o2",)]


def test_g104_keyword_label_predicate_and_map_projection(golden_kw):
    rows = golden_kw(
        "MATCH (n) WHERE n:Order AND n.end = 10 RETURN n {.name, .end} AS m"
    )
    assert rows == [(("o1", 10),)]


def test_g105_parenthesized_label_predicate(golden):
    # `NOT (n:P)` is a PARENTHESIZED LABEL PREDICATE, not a pattern
    # predicate (no relationship follows the close paren) — fuzz-caught
    # dave is [P, Q] so NOT (n:P) drops him too
    assert golden(
        "MATCH (n) WHERE NOT (n:P) RETURN n.name AS name ORDER BY name"
    ) == [("erin",), ("frank",)]


def test_g106_keyword_node_prop_map(golden_kw):
    # keyword property key inside a node property map pattern
    assert golden_kw(
        "MATCH (o:Order {end: 20}) RETURN o.name AS name"
    ) == [("o2",)]


# -- temporal component accessors --------------------------------------------
#
# openCypher instant access: `x.year`, `x.dayOfWeek` (ISO, Monday=1),
# `x.week` (ISO week), `x.ordinalDay`, `x.epochSeconds`. Expected values
# hand-computed: 1995-08-15 was a TUESDAY (dayOfWeek 2), day 227 of the
# year (212 days through July + 15), ISO week 33 (1995's week 1 began
# Mon Jan 2; Aug 15 is 225 days later = 32 full weeks + 1 day).
# epochSeconds(1995-08-15T01:02:03Z) = 808448523 (hand-checked:
# 25 years × 365.25… via known epoch table), millis = ×1000 + 0.

@pytest.fixture(scope="module")
def golden_dt(spark):
    import datetime as dt

    nodes = spark.createDataFrame(
        [
            (1, ["E"], dt.date(1995, 8, 15),
             dt.datetime(1995, 8, 15, 1, 2, 3)),
            (2, ["E"], dt.date(1996, 1, 1),
             dt.datetime(1996, 1, 1, 23, 59, 58)),
        ],
        "ID long, LABELS array<string>, d date, ts timestamp",
    )
    rels = spark.createDataFrame(
        [(1, 2, "T", 1.0)], "START_ID long, END_ID long, TYPE string, w double"
    )
    nodes.createOrReplaceTempView("golddtnodes")
    rels.createOrReplaceTempView("golddtrels")

    def run(cypher: str):
        sql = cypher_to_sql(cypher, "golddtnodes", "golddtrels")
        return [tuple(r) for r in spark.sql(sql).collect()]

    return run


def test_g107_date_components(golden_dt):
    assert golden_dt(
        "MATCH (n:E) WHERE n.ID = 1 "
        "RETURN n.d.year AS y, n.d.month AS m, n.d.day AS dd, "
        "n.d.quarter AS q, n.d.ordinalDay AS od"
    ) == [(1995, 8, 15, 3, 227)]


def test_g108_iso_dayofweek_and_week(golden_dt):
    # 1995-08-15 Tuesday -> 2; 1996-01-01 Monday -> 1 (ISO week 1)
    assert golden_dt(
        "MATCH (n:E) RETURN n.ID AS id, n.d.dayOfWeek AS dw, n.d.week AS w "
        "ORDER BY id"
    ) == [(1, 2, 33), (2, 1, 1)]


def test_g109_timestamp_components_and_epoch(golden_dt):
    assert golden_dt(
        "MATCH (n:E) WHERE n.ID = 1 "
        "RETURN n.ts.hour AS h, n.ts.minute AS mi, n.ts.second AS s, "
        "n.ts.epochSeconds AS es, n.ts.epochMillis AS em"
    ) == [(1, 2, 3, 808448523, 808448523000)]


def test_g110_accessor_on_with_alias_and_filter(golden_dt):
    # accessor on a WITH-carried date alias, and in a WHERE position
    assert golden_dt(
        "MATCH (n:E) WHERE n.d.year = 1995 WITH n.d AS d "
        "RETURN d.month AS m, d.day AS dd"
    ) == [(8, 15)]


# -- properties on variable-length relationships ------------------------------
#
# openCypher: `-[:K*a..b {w: 1.0}]->` requires EVERY relationship in the
# matched path to satisfy the property map. Hand-computed on the fixture:
# only e1 (alice->bob) has w=1.0, only e3 (bob->carol) has w=2.0.

def test_g111_varlength_props_bounded(golden):
    # L1 paths from alice with all-edges w=1.0: e1 only -> bob.
    # L2 alice->bob->carol would need e3 (w=2.0) on hop 2 -> fails.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*1..2 {w: 1.0}]->(b) "
        "RETURN b.name AS n, count(*) AS c"
    ) == [("bob", 1)]


def test_g112_varlength_props_unbounded(golden):
    # edges with w=2.0: e3 only -> the one reachable pair is bob->carol
    assert golden(
        "MATCH (a)-[:K* {w: 2.0}]->(b) "
        "RETURN DISTINCT a.name AS a, b.name AS b"
    ) == [("bob", "carol")]


def test_g113_varlength_props_undirected(golden):
    # K edges incident to bob with w=1.0: e1 (from alice) only
    assert golden(
        "MATCH (a:P {name: 'bob'})-[:K*1..1 {w: 1.0}]-(x) "
        "RETURN x.name AS n"
    ) == [("alice",)]


# -- binding an unbounded varlength rel to a variable: size(r) ---------------
#
# `-[r:K*]->` + size(r)/length(r) = the traversal's hop count (the
# relationship count of the path). Fixture K graph from alice: cycle
# alice->bob->carol->alice with PARALLEL first edges e1/e2.

def test_g114_unbounded_relvar_min_hops(golden):
    # min hops from alice: bob 1, carol 2, alice 3 (around the cycle).
    # min() is duplicate-insensitive -> distinct-frontier mode, exact.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*]->(b) "
        "RETURN b.name AS n, min(size(r)) AS hops ORDER BY n"
    ) == [("alice", 3), ("bob", 1), ("carol", 2)]


def test_g115_unbounded_relvar_walk_counts(golden):
    # walk mode (count(*) is multiplicity-sensitive): walks of length L
    # from alice — L1: e1|e2 -> bob (2); L2: ->carol (2); L3: ->alice
    # (2); L4: a second lap re-picks e1|e2 -> bob (4). openCypher would
    # forbid reusing the lap-1 edge (documented walk divergence), but
    # lengths 1..3 are exact.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*]->(b) WHERE size(r) <= 4 "
        "RETURN b.name AS n, size(r) AS hops, count(*) AS walks "
        "ORDER BY hops"
    ) == [("bob", 1, 2), ("carol", 2, 2), ("alice", 3, 2), ("bob", 4, 4)]


def test_g116_bounded_relvar_size_in_where(golden):
    # bounded binding + size(r) in WHERE: exactly the length-2 paths
    # from alice: e1/e2 then e3 -> carol twice
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..2]->(b) WHERE size(r) = 2 "
        "RETURN b.name AS n, count(*) AS c"
    ) == [("carol", 2)]


# -- pattern comprehensions ---------------------------------------------------
#
# `[(a)-[:K]->(m) | m.name]` — a per-row list from a correlated pattern,
# rendered as the SORTED comma-joined string (the collect() convention);
# no match -> '' (Cypher: []). K edges: e1,e2 alice->bob (w 1, 5),
# e3 bob->carol (w 2), e4 carol->alice (w 3).

def test_g117_pattern_comprehension_basic(golden):
    # parallel edges produce one element each: alice -> "bob,bob"
    assert golden(
        "MATCH (a:P) RETURN a.name AS n, [(a)-[:K]->(m) | m.name] AS ms "
        "ORDER BY n"
    ) == [
        ("alice", "bob,bob"), ("bob", "carol"),
        ("carol", "alice"), ("dave", ""),
    ]


def test_g118_size_of_pattern_comprehension_with_where(golden):
    # out-K edges with w > 1.0: alice has e2 only, bob e3, carol e4
    assert golden(
        "MATCH (a:P) RETURN a.name AS n, "
        "size([(a)-[r:K]->(m) WHERE r.w > 1.0 | m]) AS deg ORDER BY n"
    ) == [("alice", 1), ("bob", 1), ("carol", 1), ("dave", 0)]


def test_g119_pattern_comprehension_end_anchored(golden):
    # incoming K per node: bob gets alice twice (e1, e2)
    assert golden(
        "MATCH (a:P) RETURN a.name AS n, [(m)-[:K]->(a) | m.name] AS ms "
        "ORDER BY n"
    ) == [
        ("alice", "carol"), ("bob", "alice,alice"),
        ("carol", "bob"), ("dave", ""),
    ]


def test_g120_pattern_comprehension_undirected_rel_prop(golden):
    # K edges incident to bob: e1 (w 1.0), e2 (w 5.0), e3 (w 2.0)
    assert golden(
        "MATCH (a:P {name: 'bob'}) RETURN [(a)-[r:K]-(m) | r.w] AS ws"
    ) == [("1.0,2.0,5.0",)]


# -- CALL procedures ----------------------------------------------------------

def test_g121_call_db_labels(golden):
    assert golden(
        "CALL db.labels() YIELD label RETURN label ORDER BY label"
    ) == [("P",), ("Q",), ("R",)]


def test_g122_call_db_relationship_types(golden):
    assert golden(
        "CALL db.relationshipTypes() YIELD relationshipType "
        "RETURN relationshipType AS t ORDER BY t DESC"
    ) == [("T",), ("K",)]


# -- keys() / properties() ----------------------------------------------------
#
# Schema-aware: the caller passes the node property columns (api.cypher
# does it from the registered graph). keys(n) = sorted comma-joined
# names of the NON-NULL properties; properties(n) is a fixed-schema
# struct carrying NULLs (documented divergence: Cypher omits absent
# keys per node).

def test_g123_keys_fn(golden, spark):
    sql = cypher_to_sql(
        "MATCH (n:Q) RETURN n.name AS name, keys(n) AS ks ORDER BY name",
        "goldnodes", "goldrels", node_props=["name", "age"],
    )
    # erin's age is NULL -> only 'name'
    assert [tuple(r) for r in spark.sql(sql).collect()] == [
        ("dave", "age,name"), ("erin", "name"),
    ]


def test_g124_properties_fn(golden, spark):
    sql = cypher_to_sql(
        "MATCH (n:Q) RETURN n.name AS name, properties(n) AS p "
        "ORDER BY name",
        "goldnodes", "goldrels", node_props=["name", "age"],
    )
    rows = [(r["name"], (r["p"]["age"], r["p"]["name"]))
            for r in spark.sql(sql).collect()]
    assert rows == [("dave", (40, "dave")), ("erin", (None, "erin"))]


def test_g125_duration_in_days(golden_dt):
    # 1995-08-15 -> 1996-01-01 is 139 days (16 left in Aug + 30 + 31 +
    # 30 + 31 + 1); between() truncated to whole days agrees on dates
    assert golden_dt(
        "MATCH (n:E) WHERE n.ID = 1 MATCH (m:E) WHERE m.ID = 2 "
        "RETURN duration.inDays(n.d, m.d).days AS dd, "
        "duration.between(n.d, m.d).days AS bd"
    ) == [(139, 139)]


def test_g126_map_projection_star(golden, spark):
    # `n {.*}` — all properties, schema-supplied (sorted key order)
    sql = cypher_to_sql(
        "MATCH (n:R) RETURN n {.*} AS m",
        "goldnodes", "goldrels", node_props=["name", "age"],
    )
    rows = [tuple(r["m"]) for r in spark.sql(sql).collect()]
    assert rows == [(50, "frank")]


def test_g127_order_by_unprojected_expression(golden):
    # sort by an expression that is NOT projected (openCypher allows
    # this without DISTINCT/aggregation): |age| desc -> frank 50,
    # dave 40, carol 35 (erin's NULL age sorts per engine NULLS FIRST
    # on DESC = Cypher's nulls-largest convention... pinned by LIMIT 3)
    assert golden(
        "MATCH (n) WHERE n.age IS NOT NULL "
        "RETURN n.name AS name ORDER BY abs(n.age) DESC LIMIT 3"
    ) == [("frank",), ("dave",), ("carol",)]


def test_g128_with_star_where(golden):
    # WITH * WHERE — carry the whole scope, filter, keep property
    # access live afterwards
    assert golden(
        "MATCH (a:P)-[r:K]->(b) WITH * WHERE r.w > 1.5 "
        "RETURN a.name AS n, b.name AS m ORDER BY n, m"
    ) == [("alice", "bob"), ("bob", "carol"), ("carol", "alice")]


# -- unbounded shortestPath ---------------------------------------------------
#
# shortestPath((a)-[:T*]->(b)) — BFS level per endpoint pair via the
# recursive CTE's min-hops; always distinct-frontier (linear per hop).
# K cycle from alice: bob at 1, carol at 2, alice (itself, via the
# 3-cycle) at 3.

def test_g129_unbounded_shortest_path(golden):
    assert golden(
        "MATCH p = shortestPath((a:P {name: 'alice'})-[:K*]->(b)) "
        "RETURN b.name AS n, length(p) AS hops ORDER BY n"
    ) == [("alice", 3), ("bob", 1), ("carol", 2)]


def test_g130_unbounded_shortest_path_min_hops(golden):
    # lower bound restricts the minimized set: >=2-hop walks from
    # alice — carol at 2, alice at 3, bob at 4 (second lap)
    assert golden(
        "MATCH p = shortestPath((a:P {name: 'alice'})-[:K*2..]->(b)) "
        "RETURN b.name AS n, length(p) AS hops ORDER BY n"
    ) == [("alice", 3), ("bob", 4), ("carol", 2)]


def test_g131_unbounded_shortest_path_undirected(golden):
    # T closure from erin: dave at 1 (e7), bob at 2 (dave-e5/e6-bob);
    # self-reach excluded by the b <> a filter
    assert golden(
        "MATCH p = shortestPath((a:Q {name: 'erin'})-[:T*]-(b)) "
        "WHERE b.name <> 'erin' "
        "RETURN b.name AS n, length(p) AS hops ORDER BY n"
    ) == [("bob", 2), ("dave", 1)]


def test_g132_size_of_collect(golden):
    # size(collect(x)) == count(x): collect skips NULLs (erin's age)
    assert golden(
        "MATCH (n) RETURN size(collect(n.age)) AS c, "
        "size(collect(DISTINCT n.age)) AS d"
    ) == [(5, 5)]


# -- bounded varlength composed with comma patterns / consecutive MATCH ------

def test_g133_varlength_then_match(golden):
    # K paths of length 1-2 ending at b, then b's T out-edge. Only
    # b=bob has one (e6 to dave); paths to bob: alice x2 (e1|e2, L1),
    # carol x1 (e4 then e1? no — carol-K->alice-K->bob uses e4+e1 and
    # e4+e2 = 2 walks... recompute: L2 into bob = carol->alice->bob
    # via e4 + (e1|e2) = 2). So (alice,dave) x2 and (carol,dave) x2.
    assert golden(
        "MATCH (a:P)-[:K*1..2]->(b) MATCH (b)-[:T]->(c) "
        "RETURN a.name AS an, c.name AS cn ORDER BY an, cn"
    ) == [("alice", "dave"), ("alice", "dave"),
          ("carol", "dave"), ("carol", "dave")]


def test_g134_anchor_filter_then_varlength(golden):
    # the classic anchor-filter-then-expand shape: WHERE between the
    # MATCH clauses
    assert golden(
        "MATCH (b:P) WHERE b.name = 'bob' "
        "MATCH (a:P)-[:K*1..2]->(b) RETURN a.name AS an ORDER BY an"
    ) == [("alice",), ("alice",), ("carol",), ("carol",)]


def test_g135_varlength_comma_pattern(golden):
    # comma form: varlength chain + fixed chain joined on b
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*1..2]->(b), (b)-[:T]->(c) "
        "RETURN b.name AS bn, c.name AS cn, count(*) AS walks"
    ) == [("bob", "dave", 2)]


# -- bare node variables carried through WITH keep property access ------------
#
# `MATCH (p)-->(m) WITH p, count(m) AS n ... RETURN p.name` — THE most
# common aggregation pipeline in real Cypher. The consuming stage
# re-joins the node table on the carried id. K out-degrees: alice 2
# (e1, e2), bob 1, carol 1; ages alice 30, bob 25, carol 35.

def test_g136_carried_node_props_after_with_agg(golden):
    assert golden(
        "MATCH (p:P)-[:K]->(m) WITH p, count(m) AS n "
        "RETURN p.name AS name, n ORDER BY name"
    ) == [("alice", 2), ("bob", 1), ("carol", 1)]


def test_g137_carried_node_props_having_filter(golden):
    # trailing WHERE on the aggregated stage referencing the CARRIED
    # node's property
    assert golden(
        "MATCH (p:P)-[:K]->(m) WITH p, count(m) AS n WHERE p.age > 26 "
        "RETURN p.name AS name, n ORDER BY name"
    ) == [("alice", 2), ("carol", 1)]


def test_g138_carried_node_through_two_stages(golden):
    # carried bare through TWO WITH stages, props still live at RETURN
    assert golden(
        "MATCH (p:P)-[:K]->(m) WITH p, count(m) AS n "
        "WITH p, n WHERE n > 1 RETURN p.name AS name, n"
    ) == [("alice", 2)]


def test_g139_carried_node_agg_of_prop(golden):
    # aggregate OVER carried-node properties in a later stage
    assert golden(
        "MATCH (p:P)-[:K]->(m) WITH p, count(m) AS n "
        "RETURN sum(p.age * n) AS tot"
    ) == [(120,)]  # 30*2 + 25*1 + 35*1


def test_g140_where_before_optional_match(golden):
    # WHERE attached to the main MATCH, before OPTIONAL MATCH — the
    # main filter commutes with the left join. P nodes with age > 26:
    # alice, carol, dave; their T out-edges: only dave (e? none — dave
    # has e5 4->2) -> dave matches bob; alice/carol null-extend.
    assert golden(
        "MATCH (p:P) WHERE p.age > 26 OPTIONAL MATCH (p)-[:T]->(x) "
        "RETURN p.name AS n, x.name AS m ORDER BY n"
    ) == [("alice", None), ("carol", None), ("dave", "bob")]


# -- r6 ADVICE: hop-referencing aggregates and minlen >= 2 frontier ----------
#
# T-graph for these: e5 (4-T->2), e6 (2-T->4) — a directed 2-cycle —
# plus e7 (5-T->4) feeding into it.

def test_g141_max_hops_routes_to_walk_mode(golden):
    # r6 ADVICE (high): max(size(r)) is NOT frontier-safe — the distinct
    # (src, tgt, hops) walk set contains hop counts with no edge-unique
    # witness, so frontier mode returned the 10-hop guard as the max.
    # Now routed to WALK enumeration (documented divergence): from erin
    # walks alternate dave (odd hops, max 9) / bob (even hops, max 10)
    # under the guard. openCypher edge-unique paths would give dave 3
    # (5-e7->4-e5->2-e6->4) and bob 2 (5-e7->4-e5->2); exact
    # longest-trail is NP-hard, so the guard-bounded walk answer is the
    # documented behavior — what matters is it no longer masquerades as
    # the exact frontier answer, and on DAGs walk mode IS exact.
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[r:T*]->(b) "
        "RETURN b.name AS n, max(size(r)) AS mx ORDER BY n",
        max_hops=10,
    ) == [("bob", 10), ("dave", 9)]


def test_g142_max_hops_with_endpoint_filter_walk_mode(golden):
    # max(size(r)) with a WHERE on the endpoint, also walk mode: walks
    # bob->carol have lengths 1 (e3 direct) then one K-cycle lap per
    # +3 hops: {1, 4, 7, 10} under the 10-hop guard -> max 10.
    # openCypher edge-unique paths: 1 (e3) and 4 (bob-e3->carol-e4->
    # alice-e1|e2->bob-e3->carol... reuses e3) — actually only lengths
    # 1; the lap reuses e3, so openCypher max = 1. Documented walk
    # divergence, same class as g141.
    assert golden(
        "MATCH (a:P {name: 'bob'})-[r:K*]->(b) WHERE b.name = 'carol' "
        "RETURN b.name AS n, max(size(r)) AS mx",
        max_hops=10,
    ) == [("carol", 10)]


def test_g143_distinct_hops_routes_to_walk_mode(golden):
    # RETURN DISTINCT size(r): the SET of walk lengths is guard-bounded
    # walk semantics (documented), not the frontier artifact. From erin
    # via T: dave at odd hops 1..9, bob at even 2..10 -> lengths 1..10.
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[r:T*]->(b) "
        "RETURN DISTINCT size(r) AS hops ORDER BY hops",
        max_hops=10,
    ) == [(h,) for h in range(1, 11)]


def test_g144_minlen2_cycle_exact(golden):
    # r9: unbounded *2.. on a cycle is now EXACT openCypher (the r6–r8
    # documented frontier divergence is closed): the recursion carries
    # per-path edge-set state (trail mode), so (2,4)/(4,2) — whose only
    # length >= 2 walks reuse e5/e6 — are correctly absent, while the
    # round trips (2,2)/(4,4) and erin's (5,2) len2 / (5,4) len3 stay.
    assert golden(
        "MATCH (a)-[:T*2..]->(b) "
        "RETURN DISTINCT a.ID AS s, b.ID AS t ORDER BY s, t"
    ) == [(2, 2), (4, 4), (5, 2), (5, 4)]


def test_g145_min_hops_still_frontier_exact(golden):
    # min(size(r)) stays in frontier mode and stays EXACT (a shortest
    # walk never repeats an edge): from erin — dave 1, bob 2.
    assert golden(
        "MATCH (a:Q {name: 'erin'})-[r:T*]->(b) "
        "RETURN b.name AS n, min(size(r)) AS hops ORDER BY n"
    ) == [("bob", 2), ("dave", 1)]


# -- CALL { } subqueries (r6 verdict #2) --------------------------------------

def test_g146_call_flat_correlated(golden):
    # per-row join multiplicity: alice has parallel K edges to bob
    assert golden(
        "MATCH (a:P) CALL { WITH a MATCH (a)-[r:K]->(b) "
        "RETURN b.name AS bn, r.w AS w } "
        "RETURN a.name AS an, bn, w ORDER BY an, bn, w"
    ) == [
        ("alice", "bob", 1.0), ("alice", "bob", 5.0),
        ("bob", "carol", 2.0), ("carol", "alice", 3.0),
    ]


def test_g147_call_pure_agg_zero_rows(golden):
    # openCypher: an aggregating subquery yields ONE row per input row
    # even over zero matches — count 0, min NULL (dave/erin/frank have
    # no outgoing K edges)
    assert golden(
        "MATCH (a) CALL { WITH a MATCH (a)-[r:K]->(b) "
        "RETURN count(*) AS degs, min(r.w) AS mw } "
        "RETURN a.name AS an, degs, mw ORDER BY an"
    ) == [
        ("alice", 2, 1.0), ("bob", 1, 2.0), ("carol", 1, 3.0),
        ("dave", 0, None), ("erin", 0, None), ("frank", 0, None),
    ]


def test_g148_call_topk_per_anchor(golden):
    # per-anchor top-1 by weight: alice's heaviest K edge is e2 (w=5)
    assert golden(
        "MATCH (a:P) CALL { WITH a MATCH (a)-[r:K]->(b) "
        "RETURN b.name AS bn, r.w AS w ORDER BY r.w DESC LIMIT 1 } "
        "RETURN a.name AS an, bn, w ORDER BY an"
    ) == [
        ("alice", "bob", 5.0), ("bob", "carol", 2.0),
        ("carol", "alice", 3.0),
    ]


def test_g149_call_uncorrelated_cross(golden):
    # execute-once body cross-joined against every enclosing row
    assert golden(
        "MATCH (a:Q) CALL { MATCH (x:P) RETURN count(x) AS np } "
        "RETURN a.name AS an, np ORDER BY an"
    ) == [("dave", 4), ("erin", 4)]


def test_g150_call_scalar_import_in_where(golden):
    # scalar import (a WITH alias) referenced inside the body's WHERE
    assert golden(
        "MATCH (a:P) WITH a, a.age AS lim CALL { WITH a, lim "
        "MATCH (a)-[r:K]->(b) WHERE b.age < lim RETURN b.name AS bn } "
        "RETURN a.name AS an, bn ORDER BY an, bn"
    ) == [("alice", "bob"), ("alice", "bob"), ("carol", "alice")]


def test_g151_call_then_with_agg(golden):
    # pipeline continues after CALL: stage aggregation over call rows
    assert golden(
        "MATCH (a:P) CALL { WITH a MATCH (a)-[r:K]->(b) "
        "RETURN r.w AS w } WITH a, sum(w) AS tot "
        "RETURN a.name AS an, tot ORDER BY an"
    ) == [("alice", 6.0), ("bob", 2.0), ("carol", 3.0)]


def test_g152_call_distinct_in_body(golden):
    # DISTINCT applies per invocation (keyed on the import), so the
    # parallel alice->bob edges collapse to one row
    assert golden(
        "MATCH (a:P {name: 'alice'}) CALL { WITH a "
        "MATCH (a)-[:K]->(b) RETURN DISTINCT b.name AS bn } "
        "RETURN a.name AS an, bn"
    ) == [("alice", "bob")]


def test_g153_call_end_anchored_reversed(golden):
    # the import sits at the chain END — re-anchored by reversal
    assert golden(
        "MATCH (b:P {name: 'bob'}) CALL { WITH b "
        "MATCH (a)-[r:K]->(b) RETURN a.name AS an, r.w AS w } "
        "RETURN an, w ORDER BY an, w"
    ) == [("alice", 1.0), ("alice", 5.0)]


# -- deep bounded varlength (*1..5 and up, r7) --------------------------------

def test_g154_deep_bounded_distinct_reach(golden):
    # *1..6 routes through the recursive CTE (the old join-chain cap of
    # 4 rejected it); distinct reach from alice over the K cycle is
    # exact (minlen 1: walk-reach == path-reach)
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*1..6]->(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",)]


def test_g155_deep_bounded_min_hops(golden):
    # min(size(r)) stays frontier-exact: bob 1, carol 2, alice 3
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..6]->(b) "
        "RETURN b.name AS n, min(size(r)) AS hops ORDER BY n"
    ) == [("alice", 3), ("bob", 1), ("carol", 2)]


def test_g156_deep_bounded_walk_counts_match_chain_semantics(golden):
    # walk mode bounded at EXACTLY maxlen=5 (no guard truncation):
    # walks from alice double each lap on the parallel pair — lengths
    # 1 (e1|e2 -> bob: 2) .. 5; same multiset a 5-way join chain gives.
    # L4 ends at bob (2 walks x2 parallel = 4), L5 at carol (4).
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..5]->(b) "
        "RETURN b.name AS n, size(r) AS hops, count(*) AS walks "
        "ORDER BY hops"
    ) == [
        ("bob", 1, 2), ("carol", 2, 2), ("alice", 3, 2),
        ("bob", 4, 4), ("carol", 5, 4),
    ]


def test_g157_deep_bounded_minlen(golden):
    # *3..6 from alice, now EXACT openCypher via trail mode (r9): the
    # edge-unique trails are alice at 3 (1-e1-2-e3-3-e4-1, and the e2
    # variant) and bob at 4 (…-e4-1-e2-2, the parallel pair supplying
    # the fresh edge). carol at 5 would have to reuse e3 and alice at
    # 6 would reuse e4 — walk artifacts the old frontier reported
    # (the pre-r9 assertion listed carol; its "exact here" note was
    # wrong, which is precisely what per-path edge-set state fixes).
    assert golden(
        "MATCH (a:P {name: 'alice'})-[:K*3..6]->(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ) == [("alice",), ("bob",)]


# -- varlength OPTIONAL MATCH (r7: labels fixed, unbounded added) -------------

def test_g158_optional_bounded_varlength_target_label(golden):
    # r7 fix: the target's property/label conds used to be silently
    # dropped. b.age = 35 keeps only carol — the bob rows disappear
    # (not null-extend). TWO rows: the paths alice-e1-bob-e3-carol and
    # alice-e2-bob-e3-carol are distinct (openCypher path multiplicity).
    assert golden(
        "MATCH (a:P {name: 'alice'}) "
        "OPTIONAL MATCH (a)-[:K*1..2]->(b {age: 35}) "
        "RETURN a.name AS an, b.name AS bn"
    ) == [("alice", "carol"), ("alice", "carol")]


def test_g159_optional_bounded_varlength_label_no_match_nulls(golden):
    # all-or-nothing: when NO expansion target passes the label test,
    # the clause null-extends (the old flat emission left one spurious
    # null row per walk — now exactly one)
    assert golden(
        "MATCH (a:P {name: 'alice'}) "
        "OPTIONAL MATCH (a)-[:K*1..2]->(b:R) "
        "RETURN a.name AS an, b.name AS bn"
    ) == [("alice", None)]


def test_g160_optional_unbounded_reachability(golden):
    # OPTIONAL MATCH (a)-[:T*]->(b): distinct-frontier reachability per
    # anchor; frank (isolated) null-extends. T edges: 4->2, 2->4, 5->4.
    # From bob: dave (1), bob (2, via the 2-cycle round trip). From
    # dave: bob, dave. From erin: dave (1), bob (2), erin? no (e7 only
    # in-edge... 5->4 outgoing; reach = {4, 2, 5?} walk 5->4->2->4...
    # never back to 5) -> {bob, dave}.
    assert golden(
        "MATCH (a) OPTIONAL MATCH (a)-[:T*]->(b) "
        "RETURN a.name AS an, b.name AS bn ORDER BY an, bn"
    ) == [
        ("alice", None),
        ("bob", "bob"), ("bob", "dave"),
        ("carol", None),
        ("dave", "bob"), ("dave", "dave"),
        ("erin", "bob"), ("erin", "dave"),
        ("frank", None),
    ]


def test_g161_optional_unbounded_minlen_null_case(golden):
    # *2.. from erin: walk-reach at hops >= 2 = {bob (2), dave (3)};
    # from frank: nothing -> NULL row (the verdict's no-match case)
    assert golden(
        "MATCH (a) WHERE a.name IN ['erin', 'frank'] "
        "OPTIONAL MATCH (a)-[:T*2..]->(b) "
        "RETURN a.name AS an, b.name AS bn ORDER BY an, bn"
    ) == [("erin", "bob"), ("erin", "dave"), ("frank", None)]


def test_g162_optional_unbounded_undirected(golden):
    # undirected closure from frank (isolated): NULL; from erin:
    # component {2, 4, 5} minus... symmetric-closure self-reach
    # divergence applies (single-edge backtrack) -> erin included
    assert golden(
        "MATCH (a) WHERE a.name IN ['erin', 'frank'] "
        "OPTIONAL MATCH (a)-[:T*]-(b) "
        "RETURN a.name AS an, b.name AS bn ORDER BY an, bn"
    ) == [
        ("erin", "bob"), ("erin", "dave"), ("erin", "erin"),
        ("frank", None),
    ]


# -- UNWIND over a bounded varlength rel binding (r7) -------------------------

def test_g163_unwind_relvar_props(golden):
    # one row per relationship of each matched path, in path order.
    # Paths from alice (*1..2): e1->bob, e2->bob (1 hop); e1+e3 and
    # e2+e3 ->carol (2 hops). e rows: bob paths give w 1 / 5; each
    # carol path gives its first-hop w (1 or 5) AND e3's w=2.
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..2]->(b) UNWIND r AS e "
        "RETURN b.name AS bn, size(r) AS hops, e.w AS w "
        "ORDER BY bn, hops, w"
    ) == [
        ("bob", 1, 1.0), ("bob", 1, 5.0),
        ("carol", 2, 1.0), ("carol", 2, 2.0),
        ("carol", 2, 2.0), ("carol", 2, 5.0),
    ]


def test_g164_unwind_relvar_agg(golden):
    # aggregate over the unwound rel rows: total weight per target
    assert golden(
        "MATCH (a:P {name: 'alice'})-[r:K*1..2]->(b) UNWIND r AS e "
        "RETURN b.name AS bn, sum(e.w) AS tot ORDER BY bn"
    ) == [("bob", 6.0), ("carol", 10.0)]


def test_g165_unwind_relvar_bare_alias_rejected(golden):
    import pytest as _pytest
    from neo4j_arrow_spark.cypher import CypherUnsupported

    with _pytest.raises(CypherUnsupported, match="no scalar form"):
        golden(
            "MATCH (a)-[r:K*1..2]->(b) UNWIND r AS e RETURN e"
        )


def test_g166_leading_call_standalone(golden):
    # leading uncorrelated CALL: the body's one-row aggregate is the
    # query's FROM source
    assert golden(
        "CALL { MATCH (p:P) RETURN count(p) AS np } RETURN np"
    ) == [(4,)]


def test_g167_leading_call_feeds_match(golden):
    # execute-once result cross-joined in front of a pattern and used
    # in its WHERE: the oldest person (frank, 50) via a scalar handoff
    assert golden(
        "CALL { MATCH (p) RETURN max(p.age) AS top } "
        "MATCH (n) WHERE n.age = top RETURN n.name AS nm"
    ) == [("frank",)]


def test_g168_size_pattern_degree(golden):
    # size((a)-[:K]->()) — legacy degree idiom = correlated count:
    # alice 2 (e1+e2), bob 1 (e3), carol 1 (e4)
    assert golden(
        "MATCH (a:P) WHERE size((a)-[:K]->()) >= 1 "
        "RETURN a.name AS n, size((a)-[:K]->()) AS d ORDER BY n"
    ) == [("alice", 2), ("bob", 1), ("carol", 1)]


def test_g169_percentile_disc(golden):
    # nearest-rank percentile over P ages [25, 30, 35, 40]: p50 = 30
    # (both engines return DOUBLE by emission contract)
    assert golden(
        "MATCH (a:P) RETURN percentileDisc(a.age, 0.5) AS p50"
    ) == [(30.0,)]


def test_g170_label_alternation(golden):
    # :P|Q matches either label; dave carries both but appears once
    # (one node row, the alternation is a filter not a fan-out)
    assert golden(
        "MATCH (n:P|Q) RETURN n.name AS name ORDER BY name"
    ) == [("alice",), ("bob",), ("carol",), ("dave",), ("erin",)]


def test_g171_label_alternation_groups_and(golden):
    # a second colon group ANDs: (:P|R:Q) = (P or R) and Q -> dave only
    assert golden(
        "MATCH (n:P|R:Q) RETURN n.name AS name"
    ) == [("dave",)]


# -- collect() as a real array through WITH stages (r7) -----------------------

def test_g172_with_collect_composes(golden):
    # in a WITH stage collect() stays a sorted ARRAY: size it, index
    # it, UNWIND it — the comma-joined string form only at RETURN
    assert golden(
        "MATCH (p:P) WITH collect(p.name) AS names "
        "RETURN size(names) AS n, names[0] AS first"
    ) == [(4, "alice")]


def test_g173_with_collect_unwind_roundtrip(golden):
    assert golden(
        "MATCH (p:P) WITH collect(p.age) AS ages "
        "UNWIND ages AS a RETURN a ORDER BY a"
    ) == [(25,), (30,), (35,), (40,)]


def test_g174_with_collect_skips_nulls(golden):
    # erin's age is NULL: collect drops it (openCypher)
    assert golden(
        "MATCH (n) WITH collect(n.age) AS ages RETURN size(ages) AS c"
    ) == [(5,)]


def test_g175_final_collect_keeps_string_convention(golden):
    # at the observable boundary collect() is still the sorted
    # comma-joined string (documented divergence)
    assert golden(
        "MATCH (p:Q) RETURN collect(p.name) AS names"
    ) == [("dave,erin",)]


# -- r8: relationship variables as values ------------------------------------


def test_g177_count_rel_var(golden):
    # count(r) over a rel variable counts matched edges (4 K edges)
    assert golden("MATCH (a)-[r:K]->(b) RETURN count(r) AS n") == [(4,)]


def test_g178_count_distinct_rel_parallel(golden):
    # the parallel K pair e1/e2 are DISTINCT relationships
    assert golden(
        "MATCH (a)-[r:K]->(b) WHERE a.name = 'alice' "
        "RETURN count(DISTINCT r) AS n"
    ) == [(2,)]


def test_g179_count_distinct_rel_all(golden):
    assert golden(
        "MATCH (a)-[r]->(b) RETURN count(DISTINCT r) AS n"
    ) == [(7,)]


def test_g180_id_rel_inequality(golden):
    # only node 2 has 2+ incoming K edges (the e1/e2 pair): ordered
    # twin pairs (e1,e2),(e2,e1) — the judge's id(r1) <> id(r2) probe
    assert golden(
        "MATCH (a)-[r1:K]->(b)<-[r2:K]-(c) WHERE id(r1) <> id(r2) "
        "RETURN count(*) AS n"
    ) == [(2,)]


def test_g181_return_rel_struct(golden):
    # RETURN r projects the rel-object struct {start, end, type, props}
    rows = golden(
        "MATCH (a)-[r:T]->(b) WHERE a.name = 'erin' RETURN r"
    )
    assert rows == [((5, 4, "T", None),)]


def test_g182_return_rel_struct_undirected(golden):
    # undirected slot: the struct carries the PHYSICAL orientation
    # (_OS/_OE), not the union view's swapped endpoints — e7 is 5->4
    # regardless of which side anchors the match
    rows = golden(
        "MATCH (a)-[r:T]-(b) WHERE b.name = 'erin' RETURN r"
    )
    assert rows == [((5, 4, "T", None),)]


def test_g183_with_rel_transparent_carry(golden):
    # bare rel var through a transparent WITH stays usable
    assert golden(
        "MATCH (a)-[r:K]->(b) WITH r RETURN count(r) AS n"
    ) == [(4,)]


def test_g184_auto_alias_computed_return(golden):
    # computed RETURN items auto-name by expression text (openCypher);
    # no more "needs an explicit AS alias"
    cols, rows = golden(
        "MATCH (p:Q) WHERE p.name = 'dave' RETURN p.age + 10",
        columns=True,
    )
    assert cols == ["p.age+10"]
    assert rows == [(50,)]


def test_g185_auto_alias_function_item(golden):
    # top-level aggregates keep the short default ("max"), matching the
    # pre-r8 contract; non-aggregate computed items take the text name
    cols, rows = golden(
        "MATCH (p:P) RETURN max(toUpper(p.name))", columns=True
    )
    assert cols == ["max"]
    assert rows == [("DAVE",)]
    cols, rows = golden(
        "MATCH (p:P) WHERE p.name = 'bob' RETURN toUpper(p.name)",
        columns=True,
    )
    assert cols == ["toUpper(p.name)"]
    assert rows == [("BOB",)]


def test_g186_leading_call_then_with(golden):
    # r7 ADVICE: the leading WITH after a leading CALL { } used to be
    # dropped (unresolved-column error); it must project over the
    # subquery frame
    assert golden(
        "CALL { MATCH (s:P) RETURN max(s.age) AS m } "
        "WITH m * 2 AS y RETURN y"
    ) == [(80,)]


def test_g187_leading_call_with_match(golden):
    # the MATCH variant: WITH items referencing CALL aliases must wrap
    # the subquery frame, not sit beside it as a sibling join item
    assert golden(
        "CALL { MATCH (s:P) RETURN min(s.age) AS m } "
        "WITH m + 10 AS y MATCH (a:P) WHERE a.age > y "
        "RETURN count(*) AS n"
    ) == [(1,)]


def test_g188_minlen2_bounded_exact_on_cycle(golden):
    # g144's companion (r7 verdict #7): the BOUNDED form `*2..3` of the
    # same cycle query routes through the join-chain expansion, which
    # enforces per-path edge uniqueness (r8) — exact openCypher:
    # L2: 4->2->4 (e5,e6), 2->4->2 (e6,e5), 5->4->2 (e7,e5);
    # L3: only 5->4->2->4 (e7,e5,e6) — the 2-cycle round trips would
    # reuse an edge. DISTINCT pairs: (2,2),(4,4),(5,2),(5,4) — the
    # (2,4)/(4,2) walk artifacts of the unbounded frontier (g144,
    # still documented) do NOT appear here.
    assert golden(
        "MATCH (a)-[:T*2..3]->(b) "
        "RETURN DISTINCT a.ID AS s, b.ID AS t ORDER BY s, t"
    ) == [(2, 2), (4, 4), (5, 2), (5, 4)]


# -- r8: leading OPTIONAL MATCH, endpoint accessors, slices, map aliases ----

def test_g189_leading_optional_empty_match(golden):
    # OPTIONAL MATCH at query start with zero matches yields ONE
    # all-NULL row (openCypher): count(n) skips the NULL -> 0, but
    # count(*) still sees the row -> (null, 1)
    assert golden("OPTIONAL MATCH (n:ZZZ) RETURN count(n) AS c") == [(0,)]
    assert golden(
        "OPTIONAL MATCH (n:ZZZ) RETURN n.name AS name, count(*) AS c"
    ) == [(None, 1)]


def test_g190_leading_optional_matching(golden):
    # when the pattern DOES match, leading OPTIONAL MATCH behaves as a
    # plain MATCH: alice 30, carol 35, dave 40
    assert golden(
        "OPTIONAL MATCH (n:P) WHERE n.age > 28 RETURN count(n) AS c"
    ) == [(3,)]


def test_g191_leading_optional_rel_empty(golden):
    # frank (:R) has no outgoing K edges -> one NULL row, count(r)=0
    assert golden(
        "OPTIONAL MATCH (a:R)-[r:K]->(b) RETURN count(r) AS c"
    ) == [(0,)]


def test_g192_leading_with_then_optional(golden):
    # a leading WITH's constants survive an empty OPTIONAL MATCH
    assert golden(
        "WITH 3 AS k OPTIONAL MATCH (n:ZZZ) RETURN k AS k, count(n) AS c"
    ) == [(3, 0)]


def test_g193_startnode_endnode_property(golden):
    # startNode(r).prop resolves to r's slot endpoints statically —
    # T edges: e5 dave->bob, e6 bob->dave, e7 erin->dave
    assert golden(
        "MATCH ()-[r:T]->() "
        "RETURN startNode(r).name AS s, endNode(r).name AS e ORDER BY s, e"
    ) == [("bob", "dave"), ("dave", "bob"), ("erin", "dave")]


def test_g194_endnode_property_in_where(golden):
    # anonymous endpoints carry generated aliases, so the accessor
    # still resolves: K edges ending under age 30 are the two parallel
    # alice->bob edges
    assert golden(
        "MATCH (a)-[r:K]->() WHERE endNode(r).age < 30 RETURN count(*) AS c"
    ) == [(2,)]


def test_g195_startnode_on_reversed_pattern(golden):
    # (a)<-[r:T]-(b): the stored start of r is b — startNode must
    # honor the arrow, not the lexical order
    assert golden(
        "MATCH (a)<-[r:T]-(b) RETURN startNode(r).name AS s ORDER BY s"
    ) == [("bob",), ("dave",), ("erin",)]


def test_g196_list_slices(golden):
    # Cypher list slices are 0-based, end-EXCLUSIVE
    assert golden("WITH [10,20,30,40] AS xs RETURN xs[1..3] AS m") == [
        ([20, 30],)
    ]
    assert golden("WITH [10,20,30,40] AS xs RETURN xs[..2] AS m") == [
        ([10, 20],)
    ]
    assert golden("WITH [10,20,30,40] AS xs RETURN xs[2..] AS m") == [
        ([30, 40],)
    ]
    assert golden("WITH [10,20,30,40] AS xs RETURN xs[2..2] AS m") == [([],)]


def test_g197_map_literal_alias_access(golden):
    # a WITH alias holding a map literal keeps dot access (struct
    # column), including through a MATCH scope
    assert golden(
        "WITH {a: 1, b: 2} AS m RETURN m.a + m.b AS s"
    ) == [(3,)]
    assert golden(
        "WITH {lim: 28} AS m MATCH (n:P) WHERE n.age > m.lim "
        "RETURN count(*) AS c"
    ) == [(3,)]


def test_g198_r8_scalar_functions(golden):
    # log() is the NATURAL log (DuckDB's log() is log10 — the emission
    # pins ln on both engines); e() has no DuckDB twin (exp(1.0));
    # haversin via the sin^2(x/2) identity; size('str') -> LENGTH
    assert golden(
        "RETURN round(log(exp(3.0)), 6) AS l, round(e(), 4) AS ee, "
        "haversin(0.0) AS h, isEmpty([]) AS ie, size('hello') AS n"
    ) == [(3.0, 2.7183, 0.0, True, 5)]


def test_g199_list_concat_plus(golden):
    # Cypher + concatenates lists and appends/prepends scalars
    assert golden("WITH [1,2] + [3] AS xs RETURN size(xs) AS n") == [(3,)]
    assert golden("WITH [1,2] + 3 AS xs RETURN xs[2] AS last") == [(3,)]
    assert golden("WITH 0 + [1,2] AS xs RETURN xs[0] AS first") == [(0,)]
    assert golden(
        "MATCH (n:P) WITH collect(n.age) AS ages "
        "RETURN size(ages + [99]) AS n"
    ) == [(5,)]


def test_g200_collect_postfix_index(golden):
    # collect(...)[i] keeps the ARRAY form (the comma-joined string
    # rendering applies only to an unindexed final RETURN)
    assert golden(
        "MATCH (n:P) RETURN collect(n.name)[0] AS first"
    ) == [("alice",)]
    assert golden(
        "MATCH (n:P) RETURN size(collect(DISTINCT n.name)[1..3]) AS mid"
    ) == [(2,)]


def test_g201_nested_map_access(golden):
    assert golden(
        "WITH {a: {b: 7}} AS m RETURN m.a.b AS v"
    ) == [(7,)]


def test_g202_unwind_nested_pairs(golden):
    # UNWIND over a nested list literal: each row is a LIST, indexable
    assert golden(
        "UNWIND [[1,2],[3,4]] AS p RETURN p[0] + p[1] AS s ORDER BY s"
    ) == [(3,), (7,)]


def test_g203_path_node_comprehension(golden):
    # [x IN nodes(p) | body]: unrolled per hop slot (zero extra joins);
    # alice->bob twice (parallel K edges e1/e2) ->carol
    assert golden(
        "MATCH p = (a {name:'alice'})-[:K]->(b)-[:K]->(c) "
        "RETURN [x IN nodes(p) | x.name] AS ns"
    ) == [(["alice", "bob", "carol"],), (["alice", "bob", "carol"],)]


def test_g204_path_rel_comprehension(golden):
    # [x IN relationships(p) | x.w]: one row per path, the parallel
    # edges carry different weights
    assert golden(
        "MATCH p = (a {name:'alice'})-[:K]->(b) "
        "RETURN [x IN relationships(p) | x.w] AS ws ORDER BY ws"
    ) == [([1.0],), ([5.0],)]


def test_g205_path_relationships_bare(golden):
    # bare relationships(p): an array of rel-object structs (same
    # shape as RETURN r; documented divergence from Neo4j's rel objects)
    rows = golden(
        "MATCH p = (a {name:'alice'})-[:K]->(b)-[:K]->(c) "
        "RETURN relationships(p) AS rs LIMIT 1"
    )
    assert len(rows) == 1
    rs = rows[0][0]
    assert len(rs) == 2
    assert rs[0]["start"] == 1 and rs[0]["end"] == 2 and rs[0]["type"] == "K"
    assert rs[1]["start"] == 2 and rs[1]["end"] == 3


def test_g206_path_whole_item(golden):
    # RETURN p AS path: the path struct {nodes, length} (documented
    # divergence: Neo4j renders a full path object)
    rows = golden(
        "MATCH p = (a {name:'alice'})-[:K]->(b) RETURN p AS path LIMIT 1"
    )
    assert rows[0][0]["nodes"] == [1, 2] and rows[0][0]["length"] == 1


def test_g207_dynamic_list_index(golden):
    # xs[i] with a runtime index expression — 0-based, negative from
    # the end, NULL out of range (both engines' accessors are 1-based,
    # so only the non-negative side shifts)
    assert golden(
        "UNWIND range(0, 2) AS i WITH [10,20,30] AS xs, i "
        "RETURN xs[i] AS v ORDER BY v"
    ) == [(10,), (20,), (30,)]
    assert golden(
        "WITH [1,2,3] AS a, [10,20,30] AS b "
        "RETURN [i IN range(0, 2) | a[i] + b[i]] AS s"
    ) == [([11, 22, 33],)]


def test_g208_try_cast_null_for_garbage(golden):
    # openCypher: toInteger/toFloat return NULL for unconvertible
    # strings instead of erroring (TRY_CAST on both engines)
    assert golden(
        "RETURN toInteger('abc') AS a, toFloat('x') AS b, "
        "toInteger('42') AS c, toIntegerOrNull('7') AS d"
    ) == [(None, None, 42, 7)]


def test_g209_reverse_elementid(golden):
    # reverse() is polymorphic in Spark; DuckDB splits list_reverse —
    # the emission picks by static list-ness. elementId(n) is the
    # stringified id (documented divergence from Neo4j's opaque ids).
    assert golden(
        "WITH [1,2,3] AS xs RETURN reverse(xs) AS r, reverse('ab') AS s"
    ) == [([3, 2, 1], "ba")]
    assert golden(
        "MATCH (n:R) RETURN elementId(n) AS e"
    ) == [("6",)]


def test_g210_order_by_list_index(golden):
    # ORDER BY xs[0]: postfix index on a projected list alias
    assert golden(
        "MATCH (n:P) WITH n.name AS nm, collect(n.age) AS ages "
        "RETURN nm, ages ORDER BY ages[0] DESC LIMIT 2"
    ) == [("dave", [40]), ("carol", [35])]


def test_g211_order_by_arithmetic(golden):
    # ORDER BY an arbitrary arithmetic expression (unprojected):
    # age % 2 groups even first, then age DESC within each parity
    assert golden(
        "MATCH (n:P) RETURN n.name AS name ORDER BY n.age % 2, n.age DESC"
    ) == [("dave",), ("alice",), ("carol",), ("bob",)]


def test_g212_unwind_then_match_rematch(golden):
    # the batch-rematch idiom: UNWIND a collected id list, re-MATCH
    # each element (an implicit WITH * stage pairs the lateral explode
    # with the graph re-join)
    assert golden(
        "MATCH (n:P) WITH collect(n.ID) AS ids UNWIND ids AS i "
        "MATCH (m) WHERE m.ID = i RETURN count(*) AS c"
    ) == [(4,)]
    assert golden(
        "MATCH (n:Q) WITH collect(n.ID) AS ids UNWIND ids AS i "
        "MATCH (m) WHERE m.ID = i AND m.age IS NOT NULL "
        "RETURN m.name AS name ORDER BY name"
    ) == [("dave",)]


def test_g213_order_by_mixed_precedence(golden):
    # r9 (ADVICE r8): ORDER BY continuation folds with real operator
    # precedence — i + 10 % 3 sorts by i + 1, NOT (i + 10) % 3 (the
    # old flat left fold, which would order [5, 3, 1])
    assert golden(
        "UNWIND [5, 1, 3] AS i RETURN i ORDER BY i + 10 % 3"
    ) == [(1,), (3,), (5,)]
    assert golden(
        "UNWIND [5, 1, 3] AS i RETURN i ORDER BY i * 0 + i"
    ) == [(1,), (3,), (5,)]


def test_g214_temporal_accessor_on_constructor(golden):
    # r9: component postfix on a temporal constructor result — the r8
    # judge probe (accessors only bound to simple variables before)
    assert golden(
        "RETURN date('2024-03-05').year AS y, "
        "date('2024-03-05').month AS m, "
        "datetime('2024-03-05T06:07:08').hour AS h"
    ) == [(2024, 3, 6)]


def test_g215_duration_month_year_components(golden):
    # r9: whole-month counts under clamped month addition (Neo4j
    # semantics: Jan 31 + 1M = Feb 29, so Jan 31 -> Feb 29 is 1 whole
    # month); years truncate toward zero, negative ranges symmetric
    assert golden(
        "RETURN duration.between(date('2024-01-31'), date('2024-02-29')).months AS m"
    ) == [(1,)]
    assert golden(
        "RETURN duration.between(date('2024-01-30'), date('2024-02-28')).months AS m"
    ) == [(0,)]
    assert golden(
        "RETURN duration.between(date('1995-06-17'), date('1998-03-01')).months AS m, "
        "duration.between(date('1995-06-17'), date('1998-03-01')).years AS y"
    ) == [(32, 2)]
    assert golden(
        "RETURN duration.between(date('1998-03-01'), date('1995-06-17')).months AS m, "
        "duration.between(date('1998-03-01'), date('1995-06-17')).years AS y"
    ) == [(-32, -2)]


def test_g216_isempty_static_dispatch(golden):
    # r9: isEmpty() dispatches on the STATIC argument type — lists via
    # size()=0, strings via length()=0; a column of unknown type gets
    # a targeted CypherUnsupported instead of an opaque Spark
    # AnalysisException (the r8 judge probe)
    import pytest as _pytest

    from neo4j_arrow_spark.cypher import CypherUnsupported

    assert golden(
        "RETURN isEmpty([]) AS a, isEmpty([1]) AS b, "
        "isEmpty('') AS c, isEmpty('x') AS d, isEmpty(trim(' ')) AS e"
    ) == [(True, False, True, False, True)]
    with _pytest.raises(CypherUnsupported, match="statically"):
        golden("MATCH (n:P) RETURN isEmpty(n.name) AS x")


def test_g217_temporal_truncate(golden):
    # r9: date.truncate / datetime.truncate — date_trunc on both
    # engines (ISO Monday week start on both), component postfix works
    assert golden(
        "RETURN date.truncate('month', date('2024-03-17')) AS m, "
        "date.truncate('week', date('2024-03-17')) AS w, "
        "date.truncate('quarter', date('2024-08-17')).month AS qm"
    ) == [(__import__("datetime").date(2024, 3, 1),
           __import__("datetime").date(2024, 3, 11), 7)]


def test_g218_unwind_node_property(golden):
    # r9: UNWIND var.prop — exploding a node's array property (here
    # the LABELS array through the generic property path; dave is
    # P+Q so he contributes two rows)
    assert golden(
        "MATCH (n) WHERE n.ID = 4 UNWIND n.LABELS AS l "
        "RETURN l ORDER BY l"
    ) == [("P",), ("Q",)]
    assert golden(
        "MATCH (n:P) UNWIND n.LABELS AS l RETURN l, count(*) AS c "
        "ORDER BY l"
    ) == [("P", 4), ("Q", 1)]


def test_g219_with_node_order_by_property(golden):
    # r9: WITH <node> ORDER BY <node prop> LIMIT — injected helper
    # order keys (the stage only carries the node id)
    assert golden(
        "MATCH (n:P) WITH n ORDER BY n.age DESC LIMIT 2 "
        "RETURN collect(n.name) AS top2"
    ) == [("carol,dave",)]
    assert golden(
        "MATCH (n:P) WITH n ORDER BY n.age ASC LIMIT 1 "
        "MATCH (n)-[:K]->(m) RETURN count(*) AS c"
    ) == [(1,)]


def test_g220_collect_array_form_in_hof(golden):
    # r9: collect() stays ARRAY inside reduce() / list comprehensions
    assert golden(
        "MATCH (n:P) RETURN reduce(s = 0, x IN collect(n.age) "
        "| s + x) AS total"
    ) == [(130,)]
    assert golden(
        "MATCH (n:P) RETURN size([x IN collect(n.age) WHERE x > 26 "
        "| x * 2]) AS c"
    ) == [(3,)]


def test_g221_string_concat_function_results(golden):
    # r9: + concatenates statically string-typed function results
    assert golden(
        "MATCH (n:P {name: 'alice'}) "
        "RETURN toUpper(left(n.name, 1)) + right(n.name, 2) AS t"
    ) == [("Ace",)]


def test_g222_exists_inner_node_where(golden):
    # r9: the subquery WHERE may reference the subquery's OWN unbound
    # node — its table joins inside the EXISTS/COUNT emission
    assert golden(
        "MATCH (n:P) WHERE EXISTS { MATCH (n)-[:K]->(m) "
        "WHERE m.age > 30 } RETURN n.name AS name ORDER BY name"
    ) == [("bob",)]
    assert golden(
        "MATCH (n:P) RETURN n.name AS name, "
        "COUNT { (n)-[:K]->(m) WHERE m.age < n.age } AS c ORDER BY name"
    ) == [("alice", 2), ("bob", 0), ("carol", 1), ("dave", 0)]


def test_g223_varlength_open_upper_bound(golden):
    # r11: `*..2` takes openCypher's default minimum 1 — one row per
    # path. K paths: len1 = e1,e2 (alice->bob), e3 (bob->carol),
    # e4 (carol->alice); len2 = alice->bob->carol via e1|e2,
    # bob->carol->alice, carol->alice->bob via e4+(e1|e2)
    assert golden(
        "MATCH (a)-[:K*..2]->(b) RETURN a.name AS an, b.name AS bn "
        "ORDER BY an, bn"
    ) == [
        ("alice", "bob"), ("alice", "bob"),
        ("alice", "carol"), ("alice", "carol"),
        ("bob", "alice"), ("bob", "carol"),
        ("carol", "alice"),
        ("carol", "bob"), ("carol", "bob"),
    ]
    # identical to the explicit `*1..2` spelling
    assert golden(
        "MATCH (a)-[:K*..2]->(b) RETURN count(*) AS c"
    ) == golden("MATCH (a)-[:K*1..2]->(b) RETURN count(*) AS c")


def test_g224_missing_property_is_null(golden):
    # r11: openCypher — a property no node has reads as NULL (Neo4j
    # never errors). Arithmetic stays NULL, coalesce picks the
    # fallback, IS NULL is true, ORDER BY on it is a no-op sort key.
    assert golden(
        "MATCH (n:P) RETURN n.name AS name, "
        "coalesce(n.nosuch, -1) AS f, n.nosuch IS NULL AS miss "
        "ORDER BY n.nosuch, name",
        node_props=["name", "age"],
    ) == [
        ("alice", -1, True), ("bob", -1, True),
        ("carol", -1, True), ("dave", -1, True),
    ]
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN n.nosuch + 1 AS v",
        node_props=["name", "age"],
    ) == [(None,)]


def test_g225_missing_property_map_never_matches(golden):
    # r11: an inline map keyed on a property no entity has matches
    # NOTHING ({nosuch: 1} compares null = 1 -> null), node and rel
    assert golden(
        "MATCH (n {nosuch: 1}) RETURN count(*) AS c",
        node_props=["name", "age"],
    ) == [(0,)]
    assert golden(
        "MATCH (a)-[r:K {nosuch: 2}]->(b) RETURN count(*) AS c"
    ) == [(0,)]


def test_g226_dynamic_property_string_key(golden):
    # r11: n['name'] with a STRING LITERAL key is n.name exactly —
    # including the missing-property NULL rule; a computed key refuses
    assert golden(
        "MATCH (n:P) RETURN n['name'] AS nm ORDER BY nm",
    ) == [("alice",), ("bob",), ("carol",), ("dave",)]
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN n['nosuch'] AS x",
        node_props=["name", "age"],
    ) == [(None,)]
    assert golden(
        "MATCH (a)-[r:K]->(b) WHERE r['w'] > 1.5 RETURN count(*) AS c"
    ) == [(3,)]
    with pytest.raises(CypherUnsupported, match="string literal"):
        golden("MATCH (n:P) RETURN n[n.name] AS x")


def test_g227_size_and_concat_string_dispatch(golden):
    # r11: size(string) is its LENGTH when the schema proves the type;
    # + concatenates statically-string operands (schema-aware)
    pt = {"name": "string", "age": "bigint"}
    assert golden(
        "MATCH (n:P) RETURN size(n.name) AS ln ORDER BY ln, n.name",
        prop_types=pt,
    ) == [(3,), (4,), (5,), (5,)]
    assert golden(
        "MATCH (a:P {name: 'alice'}), (b:P {name: 'bob'}) "
        "RETURN a.name + '-' + b.name AS ab",
        prop_types=pt,
    ) == [("alice-bob",)]
    # numeric + stays arithmetic
    assert golden(
        "MATCH (n:P {name: 'alice'}) RETURN n.age + 1 AS a",
        prop_types=pt,
    ) == [(31,)]


def test_g228_reduce_heterogeneous_fold(golden):
    # r11: reduce with a numeric accumulator over STRING elements
    # folds over an index list (the init-prepend trick would cast the
    # init into the element type); string-initialized accumulators
    # concatenate
    pt = {"name": "string", "tags": "array<string>"}
    assert golden(
        "MATCH (n:P {name: 'alice'}) WITH collect(n.name) AS xs "
        "RETURN reduce(acc = 0, t IN xs | acc + size(t)) AS tot",
        prop_types=pt,
    ) == [(5,)]
    assert golden(
        "WITH ['a', 'bc'] AS xs "
        "RETURN reduce(s = '>', t IN xs | s + t) AS cat",
    ) == [(">abc",)]


def test_g229_shortest_path_after_anchor_match(golden):
    # r11: MATCH (a {..}), (b {..}) MATCH p = shortestPath(..) — the
    # canonical Neo4j anchor idiom: anchors merge into the pattern
    assert golden(
        "MATCH (a {name: 'alice'}), (b {name: 'carol'}) "
        "MATCH p = shortestPath((a)-[:K*]->(b)) RETURN length(p) AS l"
    ) == golden(
        "MATCH p = shortestPath((a {name: 'alice'})-[:K*]->"
        "(b {name: 'carol'})) RETURN length(p) AS l"
    )
    with pytest.raises(CypherUnsupported, match="node anchors"):
        golden(
            "MATCH (a {name: 'alice'})-[:K]->(x) "
            "MATCH p = shortestPath((a)-[:K*]->(b)) RETURN length(p) AS l"
        )

"""Error-surface audit (r9 verdict #7): every refusal that reaches a
user through ``api.cypher`` must be a TARGETED one-liner — a
CypherUnsupported / CypherSyntaxError / ValueError with a message that
names the offending construct — never a raw Py4J / AnalysisException /
Java stack. The write path was the known offender (r9 probe:
``SET n.rank = count(*)`` surfaced MISSING_GROUP_BY's full Java trace);
this parametrized corpus makes the guarantee structural.

Two failure surfaces are legal:
- SUBMIT-time: the exception itself (parse-as-validation);
- JOB-time: the job's recorded error — which must still be one of our
  targeted exception types and must not contain raw-leak markers.
"""

from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.cypher import CypherSyntaxError, CypherUnsupported

#: substrings that mark a RAW error leaking through the API boundary
LEAK_MARKERS = (
    "py4j",
    "org.apache.spark",
    "AnalysisException",
    "MISSING_GROUP_BY",
    "java.lang",
    "JavaObject",
    "scala.",
)

#: (query, params) — every entry must FAIL through api.cypher, and the
#: failure must be targeted. Read negatives raise at submit (the
#: transpiler runs there); write negatives may raise at submit
#: (parse-as-validation) or inside the job (frame-op validation).
NEGATIVES: list[tuple[str, dict | None]] = [
    # -- read path ----------------------------------------------------------
    ("MATCH (n:P RETURN n.age AS a", None),            # unbalanced pattern
    ("MATCH (n:P) RETURN nosuchfn(n.age) AS x", None),  # unknown function
    ("MATCH (n:P) RETURN isEmpty(n.age) AS e", None),   # non-collection type
    ("MATCH (n)-[r*1..2]->(m) RETURN id(r) AS x", None),  # varlength rel in value ctx
    ("MATCH (n:P) RETURN n.age AS a ORDER BY", None),   # dangling ORDER BY
    # unknown VARIABLE (not property — those read as NULL, r11): the
    # transpiler can't prove it missing, Catalyst rejects it, and the
    # r11 read-boundary wrap must surface a targeted one-liner
    ("MATCH (n:P) RETURN m.name AS x", None),
    ("MATCH (n:P) RETURN n.name AS x ORDER BY m.age", None),
    # namespaced (APOC-style) function — targeted by name (r11)
    ("MATCH (n:P) RETURN apoc.text.join(collect(n.name), ',') AS j", None),
    # bare duration OBJECT — name the component (r11)
    ("RETURN duration.between(date('2024-01-01'), date('2024-03-01')) AS d", None),
    # computed dynamic-property key (r11)
    ("MATCH (n:P) RETURN n[n.name] AS x", None),
    # -- write path: parse-time --------------------------------------------
    ("MATCH (n:P) SET n.rank = count(*)", None),        # aggregate in SET (r9 probe)
    ("MERGE (n:P {ID: 1}) ON MATCH SET n.age = sum(n.age)", None),
    ("CREATE (n)", None),                               # label-less create
    ("CREATE (a:P)-[:T]-(b:Q)", None),                  # undirected create rel
    ("MERGE (a:P), (b:Q)", None),                       # multi-pattern merge
    # r11: multi-var node SET and mixed node+rel SET are SUPPORTED —
    # but TWO rel variables in one statement still refuse
    (
        "MATCH (a:P)-[r1:K]->(b:P)-[r2:K]->(c) SET r1.w = 1, r2.w = 2",
        None,
    ),
    ("MATCH (a:P)-[r:K]->(b:P) SET r.START_ID = 9", None),  # immutable col
    # RETURN after delete_rel referencing a non-rel variable
    ("MATCH (a:P)-[r:K]->(b:P) DELETE r RETURN a.name AS x", None),
    (
        "MATCH (a:P), (b:P) WHERE a.ID = 1 AND b.ID = 2 "
        "MERGE (a)-[:ZZ]->(b) RETURN 1 AS one",
        None,
    ),  # RETURN needs named rel var
    (
        "UNWIND $b AS row MERGE (n:P {k: row.k}) "
        "ON MATCH SET n.k = n.k + 1",
        {"b": [{"k": 1}]},
    ),  # self-referential batch ON MATCH (fold)
    ("UNWIND $b AS row MERGE (n:P)", {"b": [{"k": 1}]}),  # keyless batch merge
    (
        # r11: WHERE in batch rel writes is SUPPORTED — but a bare
        # pattern-variable reference inside it still refuses by name
        "UNWIND $b AS row MATCH (a:P {k: row.x}), (c:P {k: row.y}) "
        "WHERE a > 1 CREATE (a)-[:T]->(c)",
        {"b": [{"x": 1, "y": 2}]},
    ),  # bare anchor variable in batch-rel WHERE
    (
        "UNWIND $b AS row MATCH (a:P {k: row.x}), (c:P {k: row.y}) "
        "CREATE (a)-[:T]->(c) RETURN 1 AS one",
        {"b": [{"x": 1, "y": 2}]},
    ),  # RETURN after batch rel write needs a NAMED rel variable
    (
        "UNWIND $b AS row MATCH (a:P {k: row.x}), (c:P {k: row.y}), "
        "(d:P {k: row.z}) CREATE (a)-[:T]->(c)",
        {"b": [{"x": 1, "y": 2, "z": 3}]},
    ),  # three anchors (v1 refusal)
    ("CREATE (n:P {ID: 77, age: $v})", {"v": float("nan")}),  # non-finite param
    ("CREATE (n:P {ID: 78, age: $missing})", {"other": 1}),  # unbound param
    # -- write path: job-time (frame-op / analysis validation) --------------
    ("MATCH (n:P) SET n.x = nosuchfn(n.age)", None),    # analysis error, wrapped
    (
        "UNWIND $b AS row MATCH (n:P {ID: row.k}) SET n.x = size(row.v)",
        {"b": [{"k": 1, "v": 2}]},
    ),  # batch-form analysis error (size of an int), wrapped the same way
    ("CREATE (n:P {ID: 1})", None),                     # id collision
    ("MATCH (n:P) WHERE n.ID = 1 DELETE n", None),      # has rels, needs DETACH
]


@pytest.fixture(scope="module")
def napi(spark):
    api = Neo4jArrowSpark(spark)
    nodes = spark.createDataFrame(
        [(1, ["P"], "alice", 30), (2, ["P"], "bob", 25), (3, ["Q"], "carol", 35)],
        "ID long, LABELS array<string>, name string, age long",
    )
    rels = spark.createDataFrame(
        [(1, 2, "K", 1.0)],
        "START_ID long, END_ID long, TYPE string, w double",
    )
    api.catalog.register("neg", nodes, rels, overwrite=True)
    return api


@pytest.mark.parametrize(
    "query,params", NEGATIVES, ids=[q[:48] for q, _ in NEGATIVES]
)
def test_negative_is_targeted_error(napi, query, params):
    try:
        job = napi.cypher(query, graph="neg", params=params)
    except (CypherUnsupported, CypherSyntaxError, ValueError) as e:
        # submit-time refusal: targeted type; message must be clean
        msg = str(e)
        for marker in LEAK_MARKERS:
            assert marker not in msg, f"raw leak in submit error: {msg!r}"
        return
    err = None
    try:
        job.result(180)
    except RuntimeError as e:
        err = str(e)
    assert err is not None, f"negative statement did not fail: {query!r}"
    # the job records the raising traceback — it must terminate in one
    # of OUR exception types with no raw Spark/Java leakage
    assert (
        "CypherUnsupported" in err
        or "CypherSyntaxError" in err
        or "ValueError" in err
    ), f"job failed with a non-targeted error:\n{err}"
    for marker in LEAK_MARKERS:
        assert marker not in err, f"raw {marker} leak:\n{err}"


#: r11 verdict #1: queries over UNKNOWN PROPERTIES are not errors at
#: all — openCypher reads a property no entity has as NULL. Each entry
#: must SUCCEED through api.cypher with the asserted rows; a raw
#: AnalysisException escaping property resolution fails the arm.
MISSING_PROP_POSITIVES: list[tuple[str, list]] = [
    ("MATCH (n:P) RETURN n.nosuch + 1 AS v ORDER BY n.name",
     [(None,), (None,)]),
    ("MATCH (n:P) RETURN coalesce(n.nosuch, -1) AS v ORDER BY n.name",
     [(-1,), (-1,)]),
    ("MATCH (n:P) RETURN n.name AS nm ORDER BY n.nosuch, n.name",
     [("alice",), ("bob",)]),
    ("MATCH (n:P) WHERE n.nosuch > 5 RETURN n.name AS nm", []),
    ("MATCH (n {nosuch: 1}) RETURN n.name AS nm", []),
    ("MATCH (n:P) WHERE exists(n.nosuch) RETURN n.name AS nm", []),
    ("MATCH (a)-[r:K {nosuch: 2}]->(b) RETURN a.name AS nm", []),
    ("MATCH (a:P)-[r:K]->(b) RETURN r.nosuch AS x, a.name AS nm", [(None, "alice")]),
]


@pytest.mark.parametrize(
    "query,expected",
    MISSING_PROP_POSITIVES,
    ids=[q[:48] for q, _ in MISSING_PROP_POSITIVES],
)
def test_missing_property_reads_as_null(napi, query, expected):
    rows = [tuple(r) for r in napi.cypher(query, graph="neg").result(180).collect()]
    assert rows == expected

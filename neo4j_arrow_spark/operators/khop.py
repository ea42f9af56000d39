"""S5 — k-hop (k=2) subgraph expansion.

Reference semantics (``plugin/src/main/java/org/neo4j/arrow/gds/
KHop.java:93-155``, orchestration ``GdsReadJob.java:110-233``, k fixed
at 2 ``GdsReadJob.java:70-72,115``): for EVERY node, emit the distinct
directed-edge set of its 2-hop neighborhood over the *undirected*
logical view of the projection. Per the documented golden example
(``KHOP.md:105-124``) that set is exactly::

    edges(o) = { (s,d) ∈ E : s ∈ N*(o) or d ∈ N*(o) }

where ``N*(o) = {o} ∪ undirected-neighbors(o)`` — an edge is within two
hops of ``o`` iff one endpoint is within one hop. Reverse-duplicate
suppression (``KHop.java:129-133,151-154`` + ``Edge.isNatural``) is
subsumed by operating on the distinct directed edge set.

Spark plan (all equi-joins; no disjunctive join, no per-row traversal):

1. ``E`` = distinct (src, dst) after the optional type filter — one
   dedup exchange, which every later branch reads (the closure's
   pairs, the remap joins, both incident sides): the plan builds the
   edge frame once;
2. ``members(origin, member)`` = undirected adjacency ∪ identity;
3. ``incident(member, src, dst)`` = each edge keyed by both endpoints;
4. 2-hop set = ``members ⋈ incident ON member``, distinct
   (origin, src, dst).

Scale notes: the join shuffles on ``member``; a supernode (the
reference's SuperNodeCache concern, ``KHop.java:24-81``, math
``KHOP.md:157-184``) makes both sides skewed on its id — AQE
skew-join splitting handles moderate skew, and the output size
Σ_o Σ_{m∈N*(o)} deg(m) is inherent to the operator, not a plan
artifact. The reference caps row width instead: lists chunked to
``ARROW_MAX_LIST_SIZE``=2048 (``Config.java:73-75``) — mirrored by
``list_size`` in :func:`khop`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_arrow_spark.graph import NodeField, RelField

DEFAULT_LIST_SIZE = 2048  # ARROW_MAX_LIST_SIZE, Config.java:73-75


def _distinct_edges(rels: DataFrame, filters: Sequence[str] | None) -> DataFrame:
    """The distinct (src, dst) edge set, the one edge frame every branch
    of the expansion reads.

    An edge with a NULL endpoint fails the job with a message naming
    it: it is not an edge of any graph (``gds_write_relationships``
    refuses it as an ``UnresolvedEndpoint``), and dropping it would
    hide the bad input. The check rides in the projection, so it costs
    no Spark job. The explicit non-null filter after it is what lets
    the branches share one dedup exchange: without it, each branch's
    join infers its own ``isnotnull`` filter (on src in one, dst in
    another), pushes it below the dedup, and plans a copy of the
    exchange of its own."""
    e = rels
    if filters:
        e = e.filter(F.col(RelField.TYPE).isin(list(filters)))
    s, d = F.col(RelField.START_ID), F.col(RelField.END_ID)
    null_end = F.when(
        s.isNull() | d.isNull(),
        F.raise_error(F.format_string("khop: edge (%s, %s) has a NULL endpoint", s, d)),
    )
    return (
        e.select(null_end.otherwise(s).alias("src"), null_end.otherwise(d).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )


def _remap_check(node_id: str, col: str, mcol: str) -> "F.Column":
    """NULL remap value → job failure (the reference surfaces missing
    remap properties as NOT_FOUND, GdsReadJob.java:281-283)."""
    return F.when(
        F.col(mcol).isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    f"khop node_id remap: property '{node_id}' missing "
                    f"or non-integral for {col} id "
                ),
                F.col(col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(mcol))


def khop_flat(
    nodes: DataFrame,
    rels: DataFrame,
    filters: Sequence[str] | None = None,
    origins_complete: bool = True,
    k: int = 2,
    node_id: str | None = None,
) -> DataFrame:
    """Flat k-hop edge sets: one row per (origin, src, dst).

    ``edges(o) = {(s,d) ∈ E : s ∈ N≤k-1(o) or d ∈ N≤k-1(o)}`` — an edge
    is within k hops iff an endpoint is within k-1 (KHOP.md semantics,
    golden-tested for the reference's k=2). The reference hardcodes k=2
    (GdsReadJob.java:70-72,115); here ``k`` generalizes by iterating
    the undirected-neighbor closure k-1 times — each round is one
    equi-join + dedup, so the shuffle budget grows linearly in k while
    the (huge) final edge output still never shuffles.

    ``nodes`` supplies the origin universe ("for every node",
    GdsReadJob.java:128-135); isolated nodes yield no rows (the
    reference emits nothing for empty neighborhoods either —
    KHop.java:99-104 exits before producing).

    ``origins_complete=True`` (the reference's only mode: k-hop runs
    over ALL graph nodes) asserts every edge endpoint is an origin,
    which lets the plan skip a semi-join shuffle against ``nodes``.
    Pass False when ``nodes`` is a strict subset of the endpoints.

    Shuffle budget at k=2 (the thing that matters at 100 TB): the edge
    dedup, the member dedup, the member equi-join, and nothing for the
    output. The edge dedup runs once: every branch reads the one
    ``_distinct_edges`` frame through the same exchange (the closure's
    pairs are taken before the remap joins, which only the incident
    sides need). The output needs no dedup: ``A`` (edges keyed by src)
    and ``B`` (keyed by dst) are each duplicate-free because the edges
    are distinct, and the anti-join that makes them disjoint also drops
    every self-loop from ``B`` — a loop (v, v) reaches ``B`` only when v
    is a member, and then its src is one — so ``inc_dst`` needs no
    self-loop filter of its own. AQE skew-join splits hot members
    (supernodes).

    An edge with a NULL endpoint fails the job, naming the edge
    (:func:`_distinct_edges`).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = _distinct_edges(rels, filters)
    edges = base

    # ``node_id`` remap (the client's khop(node_id=...) re-key,
    # neo4j_arrow.py:256-268 / GdsReadJob.java:281-283) happens BEFORE
    # the expansion join: endpoints are remapped on the |E|-sized edge
    # frame and origins on the |members|-sized frame, so the (enormous)
    # k-hop output never joins anything — it only projects the _srcm/
    # _dstm/_om columns it already carries. The NULL-property check for
    # origins rides in the FINAL projection, so it fires exactly for
    # referenced origins (an isolated node with a NULL property yields
    # no rows, hence no error — same as the output-join formulation).
    idmap = None
    if node_id is not None:
        idmap = nodes.select(
            F.col(NodeField.ID).alias("_k"),
            F.col(node_id).cast("long").alias("_m"),
        )
        edges = (
            edges.join(
                idmap.select(F.col("_k").alias("src"), F.col("_m").alias("_srcm")),
                "src",
                "left",
            )
            .join(
                idmap.select(F.col("_k").alias("dst"), F.col("_m").alias("_dstm")),
                "dst",
                "left",
            )
            # every edge endpoint is referenced (its src-origin 1-hop
            # set contains the edge), so the eager |E|-level check is
            # semantically identical to checking on the output
            .withColumn("_srcm", _remap_check(node_id, "src", "_srcm"))
            .withColumn("_dstm", _remap_check(node_id, "dst", "_dstm"))
        )

    identity = nodes.select(
        F.col(NodeField.ID).alias("origin"), F.col(NodeField.ID).alias("member")
    )
    # built from the edge frame before the remap joins, so that the
    # closure and the incident sides read one and the same dedup exchange
    pairs = base.select(
        F.col("src").alias("origin"), F.col("dst").alias("member")
    ).unionByName(
        base.select(F.col("dst").alias("origin"), F.col("src").alias("member"))
    )
    und = pairs.dropDuplicates(["origin", "member"])
    par = nodes.sparkSession.sparkContext.defaultParallelism
    members = identity
    if k >= 2:
        members = identity.unionByName(pairs).dropDuplicates(["origin", "member"])
    for _ in range(k - 2):
        # extend the closure one hop: members' = members ∪ (members ⋈ und)
        # The explicit repartition spreads the stream side BEFORE the
        # fan-out: AQE coalesces the (byte-tiny, compressible) member
        # frame to ~1 partition, and a broadcast join inherits the
        # stream side's partitioning — so without this, the join's
        # multiplied output (deg(member) rows per input row) is
        # produced and aggregated on a single core.
        extended = (
            members.withColumnRenamed("member", "_mid")
            .repartition(par, "_mid")
            .join(und.withColumnRenamed("origin", "_mid"), "_mid")
            .select("origin", "member")
        )
        # r12: the round dedup is keyed by ORIGIN alone — a hash(origin)
        # layout satisfies ClusteredDistribution for this dedup
        # (subset key), for the origins semi-join, AND for the final
        # (origin, src, dst) output dedup, so when AQE broadcasts the
        # (2|E|-row) incident side the output-sized joined frame never
        # exchanges at all: one exchange per closure round is the
        # plan's total. (Measured at sf0.1: the closure-sized member
        # re-key + the 2x-output final dedup exchange both disappear —
        # 20.5M joined rows stream straight into the dedup aggregate.)
        # If incident is too big to broadcast, the join re-keys by
        # member and the final dedup pays its exchange — exactly the
        # pre-r12 plan, so this layout is never worse.
        members = (
            members.unionByName(extended)
            .repartition(par, "origin")
            .dropDuplicates(["origin", "member"])
        )
    if not origins_complete:
        members = members.join(
            nodes.select(F.col(NodeField.ID).alias("origin")), "origin", "left_semi"
        )

    # Duplicate-free decomposition — the output NEVER shuffles:
    #   A  = edges whose src is a member of N*(o)     (unique per origin:
    #        members is unique on (origin,member), edges on (src,dst))
    #   B  = edges whose dst is a member (unique too)
    #   A ∩ B = edges with BOTH endpoints in N*(o) → remove from B via
    #   an anti-join on (origin, src) against members. A self-loop in B
    #   has its src in N*(o), so the anti-join drops it too.
    # A ∪ B' is then a disjoint union — no final dropDuplicates, so the
    # (potentially enormous) 2-hop output avoids its own shuffle; only
    # the small member/edge frames ever exchange.
    carry = ["_srcm", "_dstm"] if idmap is not None else []
    inc_src = edges.select(F.col("src").alias("member"), "src", "dst", *carry)
    inc_dst = edges.select(F.col("dst").alias("member"), "src", "dst", *carry)
    if idmap is not None:
        # origin remap on the |members| frame (≤ |V| + 2|E| rows at
        # k=2; Σ reach at k>=3) — the check itself is applied on the
        # OUTPUT projection below. Joined BEFORE the member repartition
        # so the pre-hash on the expansion key is the last exchange on
        # this side.
        members = members.join(
            idmap.select(F.col("_k").alias("origin"), F.col("_m").alias("_om")),
            "origin",
            "left",
        )
    if k <= 2:
        # Same fan-out hazard as the closure loop: the k=2 member frame
        # is byte-tiny but each row multiplies by deg(member) through
        # the incident joins. Pre-hash it on the join key so the
        # (enormous) output is born spread across all cores, whichever
        # physical join AQE picks. At k>=3 the closure is already
        # output-sized AND spread by its own level exchanges — a member
        # re-key would be a full extra shuffle of an output-sized frame
        # (measured: 10.3M rows at sf0.1), so it is skipped there.
        members = members.repartition(par, "member")

    def _project(df: DataFrame) -> DataFrame:
        if idmap is None:
            return df.select("origin", "src", "dst")
        return df.select(
            _remap_check(node_id, "origin", "_om").alias("origin"),
            F.col("_srcm").alias("src"),
            F.col("_dstm").alias("dst"),
        )

    out_cols = ["origin", "src", "dst"] + (
        ["_om", "_srcm", "_dstm"] if idmap is not None else []
    )
    if k <= 2:
        # |members| ≤ |V| + 2|E| — small next to the output
        # Σ_m deg(m), so spending an anti-join on ~2×|members| rows to
        # make A ∪ B' a disjoint union (no dedup of the output, which
        # therefore NEVER shuffles) is the right trade at scale.
        a = members.join(inc_src, "member").select(*out_cols)
        b = members.join(inc_dst, "member").select(*out_cols)
        b_only = b.join(
            members.select("origin", F.col("member").alias("src")),
            ["origin", "src"],
            "left_anti",
        )
        return _project(a.unionByName(b_only))
    # k >= 3: the closure inflates |members| toward Σ_o |reach(o)| — the
    # same order as the output itself — so the k=2 anti-join
    # decomposition would sort/shuffle ~2x the output (A/B'd in r12:
    # 2x SLOWER than the dedup at sf0.1). One incident join + one
    # output dedup instead — and with the r12 origin-keyed closure
    # layout the dedup's exchange is usually free (comment above).
    incident = inc_src.unionByName(inc_dst)
    joined = members.join(incident, "member").dropDuplicates(
        ["origin", "src", "dst"]
    )
    return _project(joined)


def khop(
    nodes: DataFrame,
    rels: DataFrame,
    filters: Sequence[str] | None = None,
    list_size: int = DEFAULT_LIST_SIZE,
    k: int = 2,
    node_id: str | None = None,
) -> DataFrame:
    """Reference wire shape: ``(_origin_id_ int, _source_ids_
    array<int>, _target_ids_ array<int>)`` (``SubGraphRecord.java:
    10-31``, observed schema ``KHOP.md:137-150``), per-origin edge list
    chunked into rows of at most ``list_size`` pairs (batch splitting is
    nondeterministic in the reference too — ``KHOP.md:125-128`` — so
    only the flattened set is contract).

    ``node_id`` substitutes a node property for the exported ids
    (the client's ``khop(node_id=...)`` remap, ``neo4j_arrow.py:
    256-268`` / ``GdsReadJob.java:281-283``): origin/src/dst are
    re-keyed through the property BEFORE chunking. The remap joins run
    on the |E|-sized edge frame and the |members| frame *before* the
    expansion join (khop_flat) — the k-hop output, the largest frame in
    the system, only projects columns it already carries.

    A referenced id whose node row is missing, whose property is NULL,
    or whose value doesn't cast to an integer FAILS the job (left join
    + raise_error) instead of silently shrinking the edge set — the
    reference surfaces missing remap properties as NOT_FOUND errors
    (GdsReadJob.java:281-283). raise_error is evaluated inside the
    remap projection, so the check costs no extra Spark job. So is the
    check that fails an edge with a NULL endpoint, with or without a
    remap.

    Shuffle budget: :func:`khop_flat`'s (at k=2 the edge dedup — one
    exchange, which the remap joins share with the expansion — the
    member dedup and the member equi-join) plus one exchange on origin
    for the chunking.
    """
    flat = khop_flat(nodes, rels, filters, k=k, node_id=node_id)
    # One exchange total: the window shuffles on origin, and the
    # (origin, _chunk) groupBy is satisfied by that same partitioning
    # (ClusteredDistribution on a superset key), so no second shuffle.
    # Array-slicing variants measured slower: exploding chunk indices
    # copies each origin's full pair array once per chunk.
    w = Window.partitionBy("origin").orderBy("src", "dst")
    chunked = flat.withColumn(
        "_chunk", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(list_size))
    )
    # sort_array over (src, dst) structs makes chunk contents fully
    # deterministic — tighter than the reference, whose batch layout is
    # explicitly nondeterministic (KHOP.md:125-128)
    pairs = F.sort_array(F.collect_list(F.struct("src", "dst")))
    return (
        chunked.groupBy("origin", "_chunk")
        .agg(pairs.alias("_pairs"))
        .select(
            F.col("origin").cast("int").alias("_origin_id_"),
            F.transform(F.col("_pairs"), lambda e: e["src"].cast("int")).alias(
                "_source_ids_"
            ),
            F.transform(F.col("_pairs"), lambda e: e["dst"].cast("int")).alias(
                "_target_ids_"
            ),
        )
    )

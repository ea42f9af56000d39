"""The benchmark's workloads: one client, closed loop.

Each workload generates its inputs from the seed, sets up a session
(``setup``), then runs ops one at a time (``run``): an op is submitted
only after the previous op's result has been fully received as a
client ``pyarrow.Table`` and checked. Every call into the engine goes
through the public client API (``api.Neo4jArrowSpark``) and is wrapped
in a span named after the layer it enters:

- ``api.submit``: the ``Neo4jArrowSpark`` method that returns a ``Job``;
- ``jobs.wait``: ``Job.result`` (for a write, the write itself);
- ``fetch``: ``stream(job).toArrow()``, Spark's Arrow collect;
- ``ingest.from_arrow``: ``operators.ingest.from_arrow`` of client tables.

Traced ops also run probes after the op's clock has stopped, each in a
span attached to the op: the op's frame into Spark's ``noop`` sink
(``probe.engine``: the operator's engine time without transport), a
``catalog.get`` and the Cypher front end (``cypher.transpile``, then
``cypher.analyze``).
"""

from __future__ import annotations

import itertools
import sys
import time
import traceback

import numpy as np
import pyarrow as pa

import gen

_op_ids = itertools.count()


class Op:
    """What one client op did and how long it took."""

    __slots__ = (
        "id", "kind", "wall", "ok", "rows", "units", "traced", "warmup", "spark", "probe"
    )

    def __init__(self, kind: str):
        self.id = f"{kind}-{next(_op_ids)}"
        self.kind = kind
        self.wall = 0.0
        self.ok = False
        self.rows = 0  # rows the client received
        self.units = 0  # throughput units: rows streamed, or ops
        self.traced = False
        self.warmup = False  # checked, but kept out of the medians
        self.spark: dict | None = None  # status-store deltas (traced ops)
        self.probe: dict = {}  # sizes seen by the probes (traced ops)


class Workload:
    """Base: inputs, the API handle of the current session, the checks."""

    name = ""
    #: read op kinds; their per-kind median latencies add up to op_p50_s
    reads: tuple[str, ...] = ()
    #: write op kinds, for write_p50_s (none: the set-up's registration)
    writes: tuple[str, ...] = ()
    #: name of the workload's own throughput figure in the info line
    units_name = ""
    #: set-ups per run; all but the first give the set-up medians
    setups = 4

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.smoke = smoke
        self.api = None
        self.tracer = None
        self.counters = None
        #: registration wall, one per set-up
        self.register_s: list[float] = []
        #: ops run during set-up (warm-ups), checked like the others
        self.setup_ops: list[Op] = []
        self.corrupt_next = False

    def generate(self) -> dict:
        """Build inputs from the seed; returns the generated shape."""
        raise NotImplementedError

    def setup(self) -> None:
        """Register the inputs and read them back, on a fresh session."""
        raise NotImplementedError

    def run(self, seconds: float, traced: bool) -> list[Op]:
        raise NotImplementedError

    def attach(self, api, tracer, counters) -> None:
        self.api, self.tracer, self.counters = api, tracer, counters

    def _register_graph(self, name: str, nodes: pa.Table, rels: pa.Table | None) -> None:
        """Client-side ingest: Arrow tables -> frames -> gds write jobs."""
        from neo4j_arrow_spark.operators.ingest import from_arrow

        tr, api = self.tracer, self.api
        t = time.perf_counter()
        with tr.span("setup.register"):
            with tr.span("ingest.from_arrow"):
                frames = [from_arrow(api.spark, nodes)]
                if rels is not None:
                    frames.append(from_arrow(api.spark, rels))
            for write, df in zip((api.gds_write_nodes, api.gds_write_relationships), frames):
                with tr.span("api.submit"):
                    job = write(name, df)
                with tr.span("jobs.wait"):
                    job.result()
        self.register_s.append(time.perf_counter() - t)

    def _readback(self, kinds, plan) -> None:
        """Warm-up ops after registration: the first full read of the
        registered graph (span ``setup.readback``)."""
        with self.tracer.span("setup.readback"):
            for kind in kinds:
                self.setup_ops.append(self.op(kind, plan, traced=False))

    def _fetch(self, op: Op, submit) -> pa.Table:
        """Submit, wait, fetch as a client table: ``op.wall``."""
        tr = self.tracer
        if op.traced:
            self.counters.delta()  # start the op's counters from zero
        t = time.perf_counter()
        try:
            with tr.op(op.id, op.kind):
                with tr.span("api.submit"):
                    job = submit()
                with tr.span("jobs.wait"):
                    df = job.result()
                with tr.span("fetch"):
                    table = self.api.stream(job).toArrow()
        finally:  # a failed op keeps its wall and counters too
            op.wall = time.perf_counter() - t
            if op.traced:
                op.spark = self.counters.delta()
        if op.traced:
            op.probe["fetch_bytes"] = table.nbytes
            with tr.attach(op.id), tr.span("probe.engine"):
                df.write.format("noop").mode("overwrite").save()
        op.rows = table.num_rows
        if self.corrupt_next:
            self.corrupt_next = False
            table = self.corrupt(table)
        return table

    def corrupt(self, table: pa.Table) -> pa.Table:
        """A deliberately wrong copy of a result, for the self-test."""
        return table.slice(1)

    def _cypher_probe(self, op: Op, graph: str, query: str, params: dict | None) -> None:
        """Cypher front end of ``query``, timed outside the op: transpile
        with the options the read path uses, then Spark's analysis."""
        tr, api = self.tracer, self.api
        with tr.attach(op.id):
            with tr.span("catalog.get"):
                g = api.catalog.get(graph)
            with tr.span("cypher.transpile"):
                sql = api._compile_read(query, graph, g)
            with tr.span("cypher.analyze"):
                api.spark.sql(sql, args=params or None).schema

    def op(self, kind: str, plan, traced: bool) -> Op:
        """Run and check one op, its spans and probes recorded if
        ``traced``; an exception counts as a failed op."""
        op = Op(kind)
        op.traced = traced
        tr = self.tracer
        prev, tr.enabled = tr.enabled, traced
        t = time.perf_counter()
        try:
            self.body(op, plan)
        except Exception:  # the loop keeps measuring; this op failed
            op.ok = False
            op.wall = op.wall or time.perf_counter() - t
            print(f"op {op.id} failed:\n{traceback.format_exc(limit=4)}", file=sys.stderr)
        finally:
            tr.enabled = prev
        return op

    def body(self, op: Op, plan) -> None:
        raise NotImplementedError


# -- embedding_stream ---------------------------------------------------------


class EmbeddingStream(Workload):
    """``gds_nodes(properties=["embedding"])`` of a cached 256-dim float32
    node frame, streamed to a client table. Transport-bound, no shuffle."""

    name = "embedding_stream"
    reads = ("stream",)
    units_name = "stream_rows_per_s"
    #: untimed ops before the clock starts: the first ops of a session
    #: are still ~20 % slower (JIT warm-up)
    WARMUP = 2
    GRAPH = "emb"
    CYPHER = "MATCH (n:User) RETURN n.embedding AS embedding"

    def generate(self) -> dict:
        n, dim = (2_000, 16) if self.smoke else (200_000, 256)
        self.table, self.emb = gen.embedding_table(self.seed, n, dim)
        return {"nodes": n, "dim": dim, "embedding_bytes": int(self.emb.nbytes)}

    def setup(self) -> None:
        self._register_graph(self.GRAPH, self.table, None)
        self._readback(self.reads, None)  # fills the catalog's cache

    def body(self, op: Op, plan) -> None:
        table = self._fetch(op, lambda: self.api.gds_nodes(self.GRAPH, properties=["embedding"]))
        op.units = op.rows
        op.ok = self.check(table)
        if op.traced:
            self._cypher_probe(op, self.GRAPH, self.CYPHER, None)

    def check(self, table: pa.Table) -> bool:
        """Every node once, with exactly the generated embedding. Compares
        chunk by chunk, without copying the received values."""
        n, dim = self.emb.shape
        ids = table.column("ID").to_numpy()
        if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
            return False
        start = 0
        for chunk in table.column("embedding").chunks:
            if chunk.null_count or not np.all(np.diff(chunk.offsets.to_numpy()) == dim):
                return False
            rows = ids[start : start + len(chunk)]
            start += len(chunk)
            if len(rows) == 0:
                continue
            lo = rows[0]
            if np.array_equal(rows, np.arange(lo, lo + len(rows))):
                want = self.emb[lo : lo + len(rows)]
            else:
                want = self.emb[rows]
            if not np.array_equal(chunk.flatten().to_numpy().reshape(len(rows), dim), want):
                return False
        return True

    def run(self, seconds: float, traced: bool) -> list[Op]:
        ops = []
        for _ in range(self.WARMUP):
            ops.append(self.op("stream", None, False))
            ops[-1].warmup = True
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(ops) == self.WARMUP:
            # a traced run traces every other op, to measure the overhead
            ops.append(self.op("stream", None, traced and len(ops) % 2 == 0))
        return ops


# -- cypher_rw ----------------------------------------------------------------


class GraphModel:
    """Python model of the cypher_rw graph (keyed by ``uid``), updated
    with every write the engine is sent; expected answers come from it."""

    def __init__(self, g: gen.Graph):
        self.score = dict(zip(g.ids.tolist(), g.score.tolist()))
        follows = g.type_idx == 0
        self.src = g.src[follows].tolist()
        self.dst = g.dst[follows].tolist()
        self.out: dict[int, list[int]] = {}
        self.indeg: dict[int, int] = {}
        for s, d in zip(self.src, self.dst):
            self._index(s, d)
        self._khop = None

    def _index(self, s: int, d: int) -> None:
        self.out.setdefault(s, []).append(d)
        self.indeg[d] = self.indeg.get(d, 0) + 1

    def add_edge(self, s: int, d: int) -> None:
        self.src.append(s)
        self.dst.append(d)
        self._index(s, d)
        self._khop = None

    def merge(self, batch: list[dict]) -> int:
        created = 0
        for row in batch:
            created += row["uid"] not in self.score
            self.score[row["uid"]] = row["s"]
        return created

    def one_hop(self, a: int) -> list[tuple[int, float]]:
        return sorted((b, self.score[b]) for b in self.out.get(a, []))

    def two_hop_distinct(self, a: int) -> int:
        """count(DISTINCT c) over a-[r1]->b-[r2]->c with r1 <> r2: the
        only path excluded is one self-loop a->a used twice."""
        out_a = self.out.get(a, [])
        loops = out_a.count(a)
        cs = set()
        for b in set(out_a):
            for c in self.out.get(b, []):
                if not (b == a and c == a and loops < 2):
                    cs.add(c)
        return len(cs)

    def top_in_degree(self, k: int) -> list[tuple[int, int]]:
        return sorted(self.indeg.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def khop(self) -> dict:
        if self._khop is None:
            n = max(self.score) + 1
            self._khop = gen.khop_expected(np.array(self.src), np.array(self.dst), n)
        return self._khop


class CypherRW(Workload):
    """A fixed chain of op cycles on one graph, from a fresh registration:
    three parameterized Cypher reads, a 2-hop subgraph expansion, a
    200-row ``UNWIND … MERGE`` and a single-edge ``MATCH … CREATE``."""

    name = "cypher_rw"
    reads = ("one_hop", "two_hop", "top_k", "khop")
    writes = ("merge", "create")
    units_name = "cypher_ops_per_s"
    GRAPH = "net"
    #: op cycles per run; the write chain is two writes per cycle
    CYCLES = 4
    BATCH = 200
    #: MERGE rows of the first (warm-up) cycle: a MERGE's cost grows with
    #: its batch (~1.6 s at 20 rows, ~6 s at 200), and the warm-up only
    #: needs the code paths compiled
    WARMUP_BATCH = 20
    #: fewer set-ups than the default: a set-up is ~2.5 s, and the write
    #: chain is most of a run
    setups = 3
    QUERIES = {
        "one_hop": "MATCH (a:User {uid: $id})-[:FOLLOWS]->(b) "
        "RETURN b.uid AS uid, b.score AS score",
        "two_hop": "MATCH (a:User {uid: $id})-[:FOLLOWS]->()-[:FOLLOWS]->(c) "
        "RETURN count(DISTINCT c) AS n",
        "top_k": "MATCH (a:User)-[:FOLLOWS]->(b:User) RETURN b.uid AS uid, "
        "count(*) AS deg ORDER BY deg DESC, uid ASC LIMIT 10",
        # a 2-hop expansion written in Cypher, for the front-end probe only
        "khop": "MATCH (o:User)-[:FOLLOWS]-(m)-[:FOLLOWS]-(x) "
        "RETURN o.uid AS origin, count(*) AS n",
        "merge": "UNWIND $batch AS row MERGE (n:User {uid: row.uid}) "
        "ON CREATE SET n.score = row.s ON MATCH SET n.score = row.s",
        "create": "MATCH (a:User {uid: $a}), (b:User {uid: $b}) CREATE (a)-[:FOLLOWS]->(b)",
    }

    def generate(self) -> dict:
        n = 500 if self.smoke else 5_000
        self.graph = gen.power_law_graph(self.seed, n, 3 * n)
        nodes = self.graph.nodes_table()
        self.nodes = nodes.append_column("uid", nodes.column("ID"))
        self.rels = self.graph.rels_table()
        self.plan = self._plan(n)
        shape = self.graph.shape()
        shape["expected_khop_pairs"] = GraphModel(self.graph).khop()["pairs"]
        shape["cycles"] = self.CYCLES
        shape["batch_rows"] = self.BATCH
        shape["warmup_batch_rows"] = self.WARMUP_BATCH
        return shape

    def _plan(self, n: int) -> list[dict]:
        """Parameters of every cycle, fixed by the seed. Each cycle's
        1-hop lookup starts at the node the previous CREATE wrote."""
        rng = np.random.default_rng(self.seed + 7)
        g = self.graph
        has_out = np.unique(g.src[g.type_idx == 0])
        cycles = []
        prev_a = int(rng.choice(has_out))
        for i in range(self.CYCLES):
            size = self.WARMUP_BATCH if i == 0 else self.BATCH
            old = rng.choice(n, size=size // 2, replace=False)
            new = n + 1_000 * i + np.arange(size - len(old))
            uids = np.concatenate([old, new]).tolist()
            scores = np.round(rng.random(len(uids)) * 100.0, 3).tolist()
            a = int(rng.choice(has_out))
            cycles.append(
                {
                    "one_hop": {"id": prev_a},
                    "two_hop": {"id": int(rng.choice(has_out))},
                    "merge": {"batch": [{"uid": u, "s": s} for u, s in zip(uids, scores)]},
                    "created": len(new),
                    "create": {"a": a, "b": int(new[0])},
                }
            )
            prev_a = a
        return cycles

    def setup(self) -> None:
        self.model = GraphModel(self.graph)
        self._register_graph(self.GRAPH, self.nodes, self.rels)
        # the top-k read scans both frames: it fills the catalog's cache
        self._readback(("top_k",), self.plan[0])

    def body(self, op: Op, plan: dict) -> None:
        api, m, kind = self.api, self.model, op.kind
        params = plan.get(kind)
        if kind == "khop":
            submit = lambda: api.khop(self.GRAPH, filters=["FOLLOWS"], node_id="uid")  # noqa: E731
        else:
            submit = lambda: api.cypher(self.QUERIES[kind], graph=self.GRAPH, params=params)  # noqa: E731
        t = self._fetch(op, submit)
        op.units = 1
        if kind == "one_hop":
            got = sorted(zip(t.column("uid").to_pylist(), t.column("score").to_pylist()))
            op.ok = got == m.one_hop(params["id"])
        elif kind == "two_hop":
            op.ok = t.column("n").to_pylist() == [m.two_hop_distinct(params["id"])]
        elif kind == "top_k":
            got = list(zip(t.column("uid").to_pylist(), t.column("deg").to_pylist()))
            op.ok = got == m.top_in_degree(10)
        elif kind == "khop":
            op.ok, pairs = check_khop(t, m.khop())
            op.probe["pairs"] = pairs
        elif kind == "merge":
            created = m.merge(params["batch"])
            row = t.to_pylist()
            op.ok = (
                len(row) == 1
                and row[0]["nodes_created"] == created == plan["created"]
                and row[0]["props_set"] == len(params["batch"])
            )
        else:  # create
            m.add_edge(params["a"], params["b"])
            row = t.to_pylist()
            op.ok = len(row) == 1 and row[0]["rels_created"] == 1
        if op.traced and kind in self.reads:
            self._cypher_probe(op, self.GRAPH, self.QUERIES[kind], params)

    def corrupt(self, table: pa.Table) -> pa.Table:
        # a wrong first value in the first column, same shape
        field = table.schema.field(0)
        col = table.column(0).to_pylist()
        col[0] = -1
        return table.set_column(0, field, pa.array(col, field.type))

    def run(self, seconds: float, traced: bool) -> list[Op]:
        """The fixed chain: CYCLES x (reads, MERGE, CREATE). Its length
        does not depend on ``seconds``, so write-latency growth along the
        chain is comparable between runs. The first cycle is each op's
        first use after registration: a warm-up, checked but kept out of
        the medians. It leaves out the k-hop op (~4 s at first use) to
        save time: the k-hop's first use is the slowest of its 3 samples,
        which the median leaves out."""
        del seconds
        ops = []
        for i in range(self.CYCLES):
            kinds = [k for k in self.reads + self.writes if i > 0 or k != "khop"]
            for j, kind in enumerate(kinds):
                # traced runs trace alternate ops, shifting every cycle
                op = self.op(kind, self.plan[i], traced and (i + j) % 2 == 0)
                op.warmup = i == 0
                ops.append(op)
        return ops


def check_khop(table: pa.Table, expected: dict) -> tuple[bool, int]:
    """The distinct (origin, src, dst) count, fingerprint and origin count
    of a k-hop result must equal the independent count. Returns (ok,
    pairs received)."""
    src_col = table.column("_source_ids_").combine_chunks()
    dst_col = table.column("_target_ids_").combine_chunks()
    lens = np.diff(src_col.offsets.to_numpy())
    if not np.array_equal(lens, np.diff(dst_col.offsets.to_numpy())):
        return False, 0
    origin_ids = table.column("_origin_id_").to_numpy()
    origin = np.repeat(origin_ids, lens)
    src = src_col.flatten().to_numpy()
    dst = dst_col.flatten().to_numpy()
    fp = int(gen.mix64(origin, src, dst).sum(dtype=np.uint64))
    ok = (
        len(src) == expected["pairs"]
        and fp == expected["fingerprint"]
        and len(np.unique(origin_ids)) == expected["origins"]
    )
    return ok, len(src)


WORKLOADS = {w.name: w for w in (EmbeddingStream, CypherRW)}

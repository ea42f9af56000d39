"""Seeded workload generator.

Every input the engine sees is built here from the ``--seed`` argument
as ``pyarrow`` tables; the engine receives only those tables. Numpy's
``default_rng(seed)`` makes the same seed give the same tables.

The graph follows the F2 fixture shape (FIXTURES.md): power-law
endpoints, parallel edges, bidirectional pairs, self-loops, a few
relationship types, and one supernode whose degree is at least 100x
the median degree.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

REL_TYPES = ("FOLLOWS", "PAYS", "KNOWS")
#: probability of each entry of REL_TYPES
REL_TYPE_P = (0.7, 0.2, 0.1)
LABEL_SETS = (("User",), ("User", "Account"), ("User", "Merchant"))
SUPERNODE_FACTOR = 100
#: Zipf exponent of endpoint popularity; higher values concentrate the
#: edges (and the k-hop output) on a few nodes
ALPHA = 0.5


@dataclass
class Graph:
    """A generated property graph, as numpy columns."""

    ids: np.ndarray  # int64, node ids
    label_idx: np.ndarray  # index into LABEL_SETS per node
    score: np.ndarray  # float64 node property
    src: np.ndarray  # int64
    dst: np.ndarray  # int64
    type_idx: np.ndarray  # index into REL_TYPES per rel
    weight: np.ndarray  # float64 rel property
    supernode: int

    def nodes_table(self) -> pa.Table:
        """F1 node table: ID, LABELS (list column), score."""
        labels = pa.array([list(LABEL_SETS[i]) for i in range(len(LABEL_SETS))])
        return pa.table(
            {
                "ID": pa.array(self.ids),
                "LABELS": labels.take(pa.array(self.label_idx)),
                "score": pa.array(self.score),
            }
        )

    def rels_table(self) -> pa.Table:
        """F2 relationship table: START_ID, END_ID, TYPE, weight."""
        return pa.table(
            {
                "START_ID": pa.array(self.src),
                "END_ID": pa.array(self.dst),
                "TYPE": pa.array(list(REL_TYPES)).take(pa.array(self.type_idx)),
                "weight": pa.array(self.weight),
            }
        )

    def shape(self) -> dict:
        """Counts that identify the workload, so a change of input shows
        as such and not as a change of speed."""
        n = len(self.ids)
        deg = np.bincount(self.src, minlength=n) + np.bincount(self.dst, minlength=n)
        med = float(np.median(deg))
        return {
            "nodes": n,
            "rels": int(len(self.src)),
            "max_degree": int(deg.max()),
            "median_degree": med,
            "supernode_ratio": round(float(deg[self.supernode]) / max(med, 1.0), 2),
            "self_loops": int((self.src == self.dst).sum()),
        }


def power_law_graph(seed: int, n: int, m: int) -> Graph:
    """``n`` nodes and about ``m`` relationships with Zipf-like endpoint
    popularity, plus one supernode, a few self-loops and some reversed
    and repeated edges."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    # popularity rank -> node via a seeded permutation
    w = 1.0 / np.arange(1, n + 1) ** ALPHA
    w /= w.sum()
    perm_s = rng.permutation(n)
    perm_d = rng.permutation(n)
    base = int(m * 0.9)
    src = perm_s[rng.choice(n, size=base, p=w)]
    dst = perm_d[rng.choice(n, size=base, p=w)]
    # bidirectional pairs and parallel (repeated) edges
    k = int(m * 0.03)
    pick = rng.integers(0, base, size=k)
    s0, d0 = src, dst
    src = np.concatenate([s0, d0[pick], s0[pick[: k // 2]]])
    dst = np.concatenate([d0, s0[pick], d0[pick[: k // 2]]])
    # self-loops
    loops = rng.integers(0, n, size=max(4, m // 2000))
    src = np.concatenate([src, loops])
    dst = np.concatenate([dst, loops])
    # supernode: degree >= SUPERNODE_FACTOR x median, half out, half in
    hub = int(rng.integers(0, n))
    while True:
        deg = np.bincount(src, minlength=n) + np.bincount(dst, minlength=n)
        need = int(SUPERNODE_FACTOR * max(np.median(deg), 1.0)) - int(deg[hub])
        if need <= 0:
            break
        need += need // 10 + 1
        others = rng.choice(n, size=need, replace=True)
        half = need // 2
        src = np.concatenate([src, np.full(half, hub), others[half:]])
        dst = np.concatenate([dst, others[:half], np.full(need - half, hub)])
    src = src.astype(np.int64)
    dst = dst.astype(np.int64)
    r = len(src)
    return Graph(
        ids=ids,
        label_idx=rng.choice(len(LABEL_SETS), size=n, p=(0.6, 0.25, 0.15)),
        score=np.round(rng.random(n) * 100.0, 3),
        src=src,
        dst=dst,
        type_idx=rng.choice(len(REL_TYPES), size=r, p=REL_TYPE_P),
        weight=np.round(rng.random(r), 4),
        supernode=hub,
    )


def embedding_table(seed: int, n: int, dim: int) -> tuple[pa.Table, np.ndarray]:
    """``n`` nodes with a ``dim``-wide float32 ``embedding`` list column;
    returns the table and the embedding matrix it was built from."""
    rng = np.random.default_rng(seed)
    emb = rng.random((n, dim), dtype=np.float32)
    values = pa.array(emb.ravel())
    table = pa.table(
        {
            "ID": pa.array(np.arange(n, dtype=np.int64)),
            "LABELS": pa.array([["User"]]).take(pa.array(np.zeros(n, dtype=np.int64))),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), values
            ),
        }
    )
    return table, emb


def mix64(o: np.ndarray, s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Order-free 64-bit fingerprint of (origin, src, dst) triples; the
    sum of it over a result detects a missing, extra or altered pair."""
    x = (
        o.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        ^ s.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
        ^ d.astype(np.uint64) * np.uint64(0x165667B19E3779F9)
    )
    x ^= x >> np.uint64(29)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(32)
    return x


def khop_expected(src: np.ndarray, dst: np.ndarray, n: int) -> dict:
    """Expected result of the 2-hop expansion over the undirected view of
    the distinct edge set: edge (s, d) belongs to origin o iff s or d is
    in {o} + neighbours(o). Returns the number of distinct (origin, src,
    dst) triples, their fingerprint sum and the number of origins.

    Computed without the engine: per origin, the union of the edge ids
    incident to its members, deduplicated with one sort."""
    key = np.unique(src * n + dst)
    s, d = key // n, key % n
    e = len(key)
    eid = np.arange(e, dtype=np.int64)
    # incidence lists: member -> edge ids (self-loops once)
    loop = s == d
    inc_m = np.concatenate([s, d[~loop]])
    inc_e = np.concatenate([eid, eid[~loop]])
    order = np.argsort(inc_m, kind="stable")
    inc_m, inc_e = inc_m[order], inc_e[order]
    inc_start = np.searchsorted(inc_m, np.arange(n + 1))
    # members(o) = {o} + undirected neighbours, distinct
    mo = np.concatenate([np.arange(n), s, d])
    mm = np.concatenate([np.arange(n), d, s])
    pairs = np.unique(mo * n + mm)
    mo, mm = pairs // n, pairs % n
    cnt = inc_start[mm + 1] - inc_start[mm]
    total = int(cnt.sum())
    # expand (origin, member) -> (origin, edge id) and deduplicate
    rep_o = np.repeat(mo, cnt)
    starts = np.repeat(inc_start[mm], cnt)
    offs = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    trip = np.unique(rep_o * e + inc_e[starts + offs])
    o, edge = trip // e, trip % e
    return {
        "pairs": int(len(trip)),
        "fingerprint": int(mix64(o, s[edge], d[edge]).sum(dtype=np.uint64)),
        "origins": int(len(np.unique(o))),
    }

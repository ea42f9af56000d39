"""Graph catalog — the Spark translation of GDS' GraphStoreCatalog.

The reference registers named graphs in a process-wide catalog keyed by
(user, db, graphName) (``plugin/.../job/GdsWriteJob.java:437-442``;
lookup ``GdsReadJob.java:56-60``). Here a catalog entry is a
:class:`~neo4j_arrow_spark.graph.Graph`; registration optionally caches
both frames (the "in-memory projection" semantics) and exposes them as
temp views ``<name>_nodes`` / ``<name>_rels`` so ``spark.sql`` works
over graphs (the S1 cypher-read capability, SURVEY.md §2.1).

Each graph version has ONE relationship frame, and every edge in it
carries a stored 64-bit ``REL_ID`` (:func:`number_rels`): registration
numbers a frame that lacks the column, once and with no shuffle, and
keeps a frame that has it (a write's commit) as it is. A write numbers
the edges it creates above the graph's relationship high-water mark
(:attr:`Graph.max_rel_id`), as node IDs are numbered, and never
renumbers the others; so ``id(r)`` is stable within a graph version and
across writes, and ``<name>_rels`` has the same columns before and
after any write.

Registration is synchronous — the reference's write-visibility race
(``README.md:214-218``: job reports done before the catalog entry is
usable) is deliberately fixed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_arrow_spark.graph import Graph, RelField, validate_nodes, validate_rels


class GraphNotFound(KeyError):
    pass


def number_rels(
    rels: DataFrame, cache: bool = False
) -> tuple[DataFrame, int | None]:
    """``rels`` with a 64-bit ``REL_ID`` per row, and a bound on the ids.
    The ids are ``monotonically_increasing_id()``, which numbers each
    partition's rows with no shuffle. A multi-slot pattern reads the
    frame more than once, and each read evaluates it again, so the ids
    are taken only over rows that re-evaluate identically, in the same
    partitions and order: with ``cache`` the numbered rows are cached
    (the cache fill is the one evaluation); a plan with no exchange (a
    file or local scan, a cached frame) re-evaluates identically and is
    numbered in place; any other plan is a lazy local checkpoint first.
    Partition ``p``'s ids are ``(p << 33) + k``, so with ``n``
    partitions no id reaches ``n << 33``; the bound is that, less one,
    where ``n`` is known with no job (None otherwise). A file scan
    numbered in place keeps its TYPE-partition pruning for every read
    that does not name ``REL_ID``."""
    exchange = "Exchange" in (
        rels._jdf.queryExecution().executedPlan().toString()
    )
    if exchange and not (cache or rels.is_cached):
        rels, exchange = rels.localCheckpoint(eager=False), False
    top = None
    if not exchange:
        top = (rels._jdf.queryExecution().toRdd().getNumPartitions() << 33) - 1
    rels = rels.select(
        "*", F.monotonically_increasing_id().alias(RelField.REL_ID)
    )
    return (rels.cache() if cache else rels), top


class GraphAlreadyExists(ValueError):
    pass


class GraphCatalog:
    """Process-wide named-graph registry.

    Keyed by (username, database, name) exactly like GraphStoreCatalog
    (``GdsReadJob.java:56-60``). At 100 TB scale, `cache=True` pins hot
    graphs in executor memory/disk (`MEMORY_AND_DISK` default of
    DataFrame.cache), while `cache=False` leaves them as lazy parquet
    scans — callers choose per graph.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._graphs: dict[tuple[str, str, str], Graph] = {}

    @staticmethod
    def _key(name: str, database: str, username: str) -> tuple[str, str, str]:
        return (username, database, name)

    def register(
        self,
        name: str,
        nodes: DataFrame,
        rels: DataFrame | None = None,
        *,
        database: str = "neo4j",
        username: str = "neo4j",
        cache: bool = False,
        overwrite: bool = False,
        validate: bool = True,
        max_id: int | None = None,
    ) -> Graph:
        """Register ``name``'s frames as a new graph version.
        ``rels`` is numbered (:func:`number_rels`, whose bound becomes
        :attr:`Graph.max_rel_id`) unless it already carries ``REL_ID``;
        ``cache`` caches the frames. ``max_id``, when known, is its
        node-ID high-water mark (:attr:`Graph.max_id`): no node has a
        larger ID."""
        key = self._key(name, database, username)
        if key in self._graphs and not overwrite:
            raise GraphAlreadyExists(f"graph {key} already registered")
        # The temp views are named by graph name alone, so a same-named
        # graph under a different (user, db) key would silently clobber
        # them (and drop() would yank views the other graph still
        # needs). Reject cross-key name reuse outright.
        clash = next((k for k in self._graphs if k[2] == name and k != key), None)
        if clash is not None:
            raise GraphAlreadyExists(
                f"graph name {name!r} already registered under {clash}; "
                f"temp views {name}_nodes/{name}_rels are a single namespace"
            )
        if validate:
            validate_nodes(nodes)
            if rels is not None:
                validate_rels(rels)
        if cache:
            nodes = nodes.cache()
        rel_top = None
        if rels is not None:
            if RelField.REL_ID not in rels.columns:
                rels, rel_top = number_rels(rels, cache)
            elif cache:
                rels = rels.cache()
        graph = Graph(
            name=name,
            nodes=nodes,
            rels=rels,
            database=database,
            username=username,
            max_id=max_id,
            max_rel_id=rel_top,
        )
        self._graphs[key] = graph
        nodes.createOrReplaceTempView(f"{name}_nodes")
        if rels is not None:
            rels.createOrReplaceTempView(f"{name}_rels")
        return graph

    def get(self, name: str, database: str = "neo4j", username: str = "neo4j") -> Graph:
        key = self._key(name, database, username)
        try:
            return self._graphs[key]
        except KeyError:
            raise GraphNotFound(f"no graph {key}; have {sorted(self._graphs)}") from None

    def drop(self, name: str, database: str = "neo4j", username: str = "neo4j") -> None:
        key = self._key(name, database, username)
        graph = self._graphs.pop(key, None)
        if graph is None:
            raise GraphNotFound(f"no graph {key}")
        # release hook parity: ArrowGraphStore.java:19-32 unpins memory
        graph.nodes.unpersist()
        if graph.rels is not None:
            graph.rels.unpersist()
        self.spark.catalog.dropTempView(f"{name}_nodes")
        if graph.rels is not None:
            self.spark.catalog.dropTempView(f"{name}_rels")

    def list(self) -> list[tuple[str, str, str]]:
        """list_flights parity (Producer.java:412-416): enumerate streams."""
        return sorted(self._graphs)

    def __contains__(self, name: str) -> bool:
        return any(k[2] == name for k in self._graphs)

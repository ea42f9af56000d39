"""Graph catalog — the Spark translation of GDS' GraphStoreCatalog.

The reference registers named graphs in a process-wide catalog keyed by
(user, db, graphName) (``plugin/.../job/GdsWriteJob.java:437-442``;
lookup ``GdsReadJob.java:56-60``). Here a catalog entry is a
:class:`~neo4j_arrow_spark.graph.Graph`; registration optionally caches
both frames (the "in-memory projection" semantics) and exposes them as
temp views ``<name>_nodes`` / ``<name>_rels`` so ``spark.sql`` works
over graphs (the S1 cypher-read capability, SURVEY.md §2.1).

Each graph version has ONE relationship frame, and it carries the
surrogate ``(REL_ID, REL_ID2)`` edge identity (:func:`mint_rel_ids`):
registration mints it into a frame that lacks it and keeps a
pre-minted frame (a write's output) as it is. ``<name>_rels`` therefore
has the same columns before and after any write. A read that does not
reference identity pays nothing for it: Catalyst's column pruning
removes the minting ``Window`` from its plan. A cached graph caches the
rows and mints over them, so such a read scans the cache.

Registration is synchronous — the reference's write-visibility race
(``README.md:214-218``: job reports done before the catalog entry is
usable) is deliberately fixed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from neo4j_arrow_spark.graph import Graph, validate_nodes, validate_rels


class GraphNotFound(KeyError):
    pass


def mint_rel_ids(rels: "DataFrame") -> "DataFrame":
    """Surrogate relationship identity (true openCypher edge identity:
    exact duplicate parallel edges are distinct relationships). The id
    must be CONTENT-DETERMINISTIC — a multi-slot pattern references the
    rels view more than once, and each reference re-evaluates the plan;
    an order-dependent id (monotonically_increasing_id after a shuffle)
    would number the two evaluations differently and the uniqueness
    predicate would excise arbitrary pairs. ``xxhash64(seed, all
    columns, within-duplicate-group row_number)`` is stable as a
    relation across re-evaluations (identical rows are interchangeable,
    so which twin gets k=1 is unobservable) and needs one all-columns
    hash partition — parallel at any scale, no global sort.

    Identity is 128-bit: TWO independently-seeded hashes (``REL_ID``,
    ``REL_ID2``). A single 64-bit hash expects collisions around 1e10
    edges — inside the 100-TB design target — and a collision makes the
    ``r1 <> r2`` uniqueness predicate silently drop a valid row pair.
    Comparing the pair pushes expected collisions past 1e18 edges.
    ``id(r)`` returns REL_ID alone (a documented 64-bit readout);
    uniqueness predicates always compare both columns.

    :meth:`GraphCatalog.register` mints every relationship frame that
    lacks the columns, so each graph's one rels frame carries them. The
    ``Window`` sits under a projection, so a query that selects neither
    column loses it to column pruning and never pays the shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = [c for c in rels.columns if c not in ("REL_ID", "REL_ID2")]
    base = rels.select(*cols)
    w = Window.partitionBy(*cols).orderBy(F.lit(1))
    rn = F.row_number().over(w)
    return base.select(
        "*",
        F.xxhash64(F.lit(1), *cols, rn).alias("REL_ID"),
        F.xxhash64(F.lit(2), *cols, rn).alias("REL_ID2"),
    )


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
        ``rels`` gains the ``(REL_ID, REL_ID2)`` identity
        (:func:`mint_rel_ids`) unless it already carries it; with
        ``cache`` the rows are cached and identity minted over them.
        ``max_id``, when known, is its node-ID high-water mark
        (:attr:`Graph.max_id`): no node has a larger ID."""
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
        from neo4j_arrow_spark.operators.dedup import _with_intermediates

        if cache:
            nodes = nodes.cache()
            if rels is not None:
                rels = rels.cache()
        if rels is not None and not {"REL_ID", "REL_ID2"} <= set(rels.columns):
            # minted over the cached rows, not cached minted: a minted
            # cache fill would add a shuffle job to a cached graph's
            # first read; drop() releases the cached rows
            rels = _with_intermediates(mint_rel_ids(rels), [rels])
        graph = Graph(
            name=name,
            nodes=nodes,
            rels=rels,
            database=database,
            username=username,
            max_id=max_id,
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
        from neo4j_arrow_spark.operators.dedup import unpersist_intermediates

        # release hook parity: ArrowGraphStore.java:19-32 unpins memory
        graph.nodes.unpersist()
        if graph.rels is not None:
            graph.rels.unpersist()
            unpersist_intermediates(graph.rels)
        self.spark.catalog.dropTempView(f"{name}_nodes")
        if graph.rels is not None:
            self.spark.catalog.dropTempView(f"{name}_rels")

    def list(self) -> list[tuple[str, str, str]]:
        """list_flights parity (Producer.java:412-416): enumerate streams."""
        return sorted(self._graphs)

    def __contains__(self, name: str) -> bool:
        return any(k[2] == name for k in self._graphs)

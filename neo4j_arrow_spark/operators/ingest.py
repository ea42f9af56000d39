"""K1/K2/K3 — graph ingest and bulk import.

Reference write path (``plugin/src/main/java/org/neo4j/arrow/job/
GdsWriteJob.java``): consume Arrow streams → build id map + property
columns (nodes, :129-451), group/sort adjacency (rels, :453-552),
register in the catalog (:437-442). Bulk import (``BulkImportJob.java:
99-184``) feeds two streams into Neo4j's BatchImporter to mint a new
database.

Spark translation: the NodeMapping/BatchedVector apparatus disappears —
DataFrames already are chunked columnar tables. What remains is the
semantic contract: id-collision validation (GdsWriteJob.java:171-174),
endpoint resolution against the node table (:479-493), sorted adjacency
(:498-537), and synchronous catalog visibility (fixing the race noted
at README.md:214-218). A "database" is a directory of parquet tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_arrow_spark.catalog import GraphCatalog
from neo4j_arrow_spark.graph import Graph, NodeField, RelField


class DuplicateNodeId(ValueError):
    """Id-map collision check parity (GdsWriteJob.java:171-174)."""


class RaggedFixedSizeList(ValueError):
    """FixedSizeList violation: the reference types embedding columns as
    FixedSizeList sized by the FIRST record (GdsActionHandler.java:
    193-220) — later rows of a different length break the stream. Spark
    has only variable ArrayType, so the contract is enforced by
    validation (SURVEY §7.3)."""


def validate_fixed_length(df: DataFrame, col: str) -> int:
    """Check that every non-null array in ``col`` has one single
    length; returns it. One aggregation pass (min==max of size)."""
    row = df.agg(
        F.min(F.size(F.col(col))).alias("lo"),
        F.max(F.size(F.col(col))).alias("hi"),
    ).collect()[0]
    if row["lo"] is None:
        return 0  # all null / empty table
    if row["lo"] != row["hi"]:
        raise RaggedFixedSizeList(
            f"column {col}: array lengths vary ({row['lo']}..{row['hi']}); "
            "FixedSizeList semantics require a single length"
        )
    return row["lo"]


def from_arrow(spark: SparkSession, table) -> DataFrame:
    """pyarrow.Table -> DataFrame — the ``put()`` ingest boundary of the
    reference client (neo4j_arrow.py:346-377 writes Arrow batches).
    Uses the Arrow-native createDataFrame path when available."""
    try:
        return spark.createDataFrame(table)  # Spark 4: direct Arrow table
    except Exception:
        return spark.createDataFrame(table.to_pandas())


class UnresolvedEndpoint(ValueError):
    """Endpoint-resolution failure parity (GdsWriteJob.java:479-493
    throws when START_ID/END_ID is not in the node id map)."""


def _rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    for src, dst in mapping.items():
        if src != dst:
            df = df.withColumnRenamed(src, dst)
    return df


def gds_write_nodes(
    catalog: GraphCatalog,
    name: str,
    nodes: DataFrame,
    id_field: str = NodeField.ID,
    labels_field: str = NodeField.LABELS,
    *,
    database: str = "neo4j",
    cache: bool = True,
    validate_ids: bool = True,
) -> Graph:
    """Stage 1 of a GDS graph build (client: neo4j_arrow.py:200-211).

    ``validate_ids`` runs the duplicate-id check as one distributed
    aggregation (count vs distinct-count, then pinpoint offenders only
    on failure) — not a row-by-row map like the reference. The same
    aggregate gives the graph its node-ID high-water mark
    (:attr:`Graph.max_id`).
    """
    nodes = _rename(nodes, {id_field: NodeField.ID, labels_field: NodeField.LABELS})
    nodes = nodes.withColumn(NodeField.ID, F.col(NodeField.ID).cast("long"))
    max_id = None
    if validate_ids:
        counts = nodes.agg(
            F.count(NodeField.ID).alias("n"),
            F.countDistinct(NodeField.ID).alias("d"),
            F.count(F.when(F.col(NodeField.ID).isNull(), 1)).alias("nulls"),
            F.max(NodeField.ID).alias("top"),
        ).collect()[0]
        max_id = counts["top"] or 0
        if counts["nulls"]:
            raise DuplicateNodeId(f"{counts['nulls']} null node ids")
        if counts["n"] != counts["d"]:
            dups = (
                nodes.groupBy(NodeField.ID)
                .count()
                .filter("count > 1")
                .limit(5)
                .collect()
            )
            raise DuplicateNodeId(
                f"duplicate node ids (showing ≤5): {[r[NodeField.ID] for r in dups]}"
            )
    return catalog.register(
        name, nodes, None, database=database, cache=cache, overwrite=True,
        max_id=max_id,
    )


def gds_write_relationships(
    catalog: GraphCatalog,
    name: str,
    rels: DataFrame,
    source_field: str = RelField.START_ID,
    target_field: str = RelField.END_ID,
    type_field: str = RelField.TYPE,
    *,
    database: str = "neo4j",
    cache: bool = True,
    validate_endpoints: bool = True,
) -> Graph:
    """Stage 2: attach relationships to an existing node-only graph
    (client: neo4j_arrow.py:213-226).

    Endpoint validation = two anti-joins against the node table (the
    reference resolves per-row through its NodeMapping,
    GdsWriteJob.java:479-493). Anti-join is a one-pass distributed
    check; at scale it shuffles on the natural key only. A ``REL_ID``
    column the client sends is dropped: registration numbers the edges.
    """
    graph = catalog.get(name, database=database)
    rels = _rename(
        rels,
        {
            source_field: RelField.START_ID,
            target_field: RelField.END_ID,
            type_field: RelField.TYPE,
        },
    )
    rels = rels.drop(RelField.REL_ID).withColumn(
        RelField.START_ID, F.col(RelField.START_ID).cast("long")
    ).withColumn(RelField.END_ID, F.col(RelField.END_ID).cast("long"))
    if validate_endpoints:
        node_ids = graph.nodes.select(F.col(NodeField.ID))
        for side in (RelField.START_ID, RelField.END_ID):
            bad = (
                rels.select(F.col(side).alias(NodeField.ID))
                .join(node_ids, NodeField.ID, "left_anti")
                .limit(5)
                .collect()
            )
            if bad:
                raise UnresolvedEndpoint(
                    f"{side} values not in node table (showing ≤5): "
                    f"{[r[NodeField.ID] for r in bad]}"
                )
    return catalog.register(
        name,
        graph.nodes,
        rels,
        database=database,
        cache=cache,
        overwrite=True,
        max_id=graph.max_id,
    )


def build_adjacency(rels: DataFrame, sort_targets: bool = True) -> DataFrame:
    """The reference's physical adjacency build, as a query: per (TYPE,
    START_ID) a sorted target list + degree (GdsWriteJob.java:498-537;
    ArrowAdjacencyList.java:11-87). Spark joins don't need CSR — this
    exists for capability parity and for consumers that want adjacency
    form (e.g. GNN samplers)."""
    targets = F.collect_list(RelField.END_ID)
    if sort_targets:
        targets = F.sort_array(targets)
    return rels.groupBy(RelField.TYPE, RelField.START_ID).agg(
        targets.alias("targets"), F.count("*").alias("degree")
    )


def bulk_import(
    spark: SparkSession,
    catalog: GraphCatalog,
    database_path: str,
    nodes: DataFrame,
    rels: DataFrame,
    *,
    database_name: str | None = None,
    id_field: str = NodeField.ID,
    labels_field: str = NodeField.LABELS,
    source_field: str = RelField.START_ID,
    target_field: str = RelField.END_ID,
    type_field: str = RelField.TYPE,
    register: bool = True,
    partition_nodes_by_label: bool = False,
) -> Graph | None:
    """K3 — mint a new "database" from two streams (BulkImportJob.java:
    99-184; client neo4j_arrow.py:454-467).

    The reference's queue-fed BatchImporter collapses to two parquet
    writes: relationships partitioned by TYPE so type-filtered scans
    prune whole directories (the partition-pruning upgrade the
    reference lacks — SURVEY.md §4.1). As a store allocates
    relationship ids, the rels write numbers each edge's ``REL_ID``
    (``monotonically_increasing_id``, in the write's one pass) and
    stores it with the edge, in place of any ``REL_ID`` the client
    sent, so every read of the database sees the same ids. With
    ``partition_nodes_by_label`` the node table additionally gets a
    ``_primary_label`` partition column (first label): scans filtering
    on it skip whole directories — the 100 TB answer for
    label-dominant access patterns. The ``LABELS`` array stays the
    general (multi-label) filter."""
    database_name = database_name or os.path.basename(database_path.rstrip("/"))
    nodes = _rename(nodes, {id_field: NodeField.ID, labels_field: NodeField.LABELS})
    rels = _rename(
        rels,
        {
            source_field: RelField.START_ID,
            target_field: RelField.END_ID,
            type_field: RelField.TYPE,
        },
    )
    nodes_writer = nodes.write.mode("overwrite")
    if partition_nodes_by_label:
        nodes = nodes.withColumn(
            "_primary_label", F.element_at(F.col(NodeField.LABELS), 1)
        )
        nodes_writer = nodes.write.mode("overwrite").partitionBy("_primary_label")
    nodes_writer.parquet(os.path.join(database_path, "nodes"))
    rels = rels.drop(RelField.REL_ID).select(
        "*", F.monotonically_increasing_id().alias(RelField.REL_ID)
    )
    rels.write.mode("overwrite").partitionBy(RelField.TYPE).parquet(
        os.path.join(database_path, "rels")
    )
    if not register:
        return None
    # read back from storage: the imported database IS the parquet dir
    nodes_db = spark.read.parquet(os.path.join(database_path, "nodes"))
    rels_db = spark.read.parquet(os.path.join(database_path, "rels"))
    return catalog.register(
        database_name, nodes_db, rels_db, database=database_name, overwrite=True
    )

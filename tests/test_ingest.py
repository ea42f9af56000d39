from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_arrow_spark.catalog import GraphCatalog
from neo4j_arrow_spark.operators.ingest import (
    DuplicateNodeId,
    UnresolvedEndpoint,
    build_adjacency,
    bulk_import,
    gds_write_nodes,
    gds_write_relationships,
)


@pytest.fixture()
def cat(spark):
    return GraphCatalog(spark)


@pytest.fixture(scope="module")
def node_df(spark):
    return spark.createDataFrame(
        [(0, ["User"], 30), (1, ["User"], 40), (2, ["Account"], None)],
        "nodeId long, labels array<string>, age long",
    )


@pytest.fixture(scope="module")
def rel_df(spark):
    return spark.createDataFrame(
        [(0, 1, "FOLLOWS", 0.5), (1, 2, "PAYS", 1.5), (2, 0, "PAYS", 2.5)],
        "src long, dst long, relType string, weight double",
    )


def test_write_nodes_then_rels(spark, cat, node_df, rel_df):
    g = gds_write_nodes(cat, "wg", node_df, id_field="nodeId", labels_field="labels", cache=False)
    assert g.nodes.columns == ["ID", "LABELS", "age"]
    g = gds_write_relationships(
        cat, "wg", rel_df, source_field="src", target_field="dst",
        type_field="relType", cache=False,
    )
    # registration numbers each edge's REL_ID into the one rels frame
    # (and its `wg_rels` view)
    assert g.rels.columns == ["START_ID", "END_ID", "TYPE", "weight", "REL_ID"]
    assert spark.table("wg_rels").columns == g.rels.columns
    assert g.rel_count() == 3


def test_write_nodes_sets_the_id_mark(spark, cat, node_df, rel_df):
    """The id check's aggregate gives the graph its node-ID high-water
    mark, and attaching relationships keeps it."""
    g = gds_write_nodes(cat, "wm", node_df, id_field="nodeId", labels_field="labels", cache=False)
    assert g.max_id == 2
    g = gds_write_relationships(
        cat, "wm", rel_df, source_field="src", target_field="dst",
        type_field="relType", cache=False,
    )
    assert g.max_id == 2


def test_duplicate_ids_rejected(spark, cat):
    dup = spark.createDataFrame(
        [(1, ["A"]), (1, ["B"])], "ID long, LABELS array<string>"
    )
    with pytest.raises(DuplicateNodeId):
        gds_write_nodes(cat, "dup", dup, cache=False)


def test_unresolved_endpoint_rejected(spark, cat, node_df):
    gds_write_nodes(cat, "wg2", node_df, id_field="nodeId", labels_field="labels", cache=False)
    bad = spark.createDataFrame(
        [(0, 99, "X", 1.0)], "START_ID long, END_ID long, TYPE string, w double"
    )
    with pytest.raises(UnresolvedEndpoint):
        gds_write_relationships(cat, "wg2", bad, cache=False)


def test_build_adjacency_sorted(spark, rel_df):
    rels = rel_df.toDF("START_ID", "END_ID", "TYPE", "weight")
    adj = {
        (r.TYPE, r.START_ID): (r.targets, r.degree)
        for r in build_adjacency(rels).collect()
    }
    assert adj[("PAYS", 1)] == ([2], 1)
    assert adj[("FOLLOWS", 0)] == ([1], 1)


def test_bulk_import_roundtrip(spark, cat, node_df, rel_df, tmp_path):
    g = bulk_import(
        spark, cat, str(tmp_path / "db1"),
        node_df.toDF("ID", "LABELS", "age"),
        rel_df.toDF("START_ID", "END_ID", "TYPE", "weight"),
    )
    assert g.node_count() == 3
    assert g.rel_count() == 3
    # partitioned by TYPE -> type-filtered scan prunes partitions
    assert (tmp_path / "db1" / "rels" / "TYPE=PAYS").exists()
    got = g.rels.filter(F.col("TYPE") == "PAYS").count()
    assert got == 2


def test_arrow_table_ingest(spark, cat):
    import pyarrow as pa

    table = pa.table(
        {
            "ID": pa.array([100, 101], pa.int64()),
            "LABELS": pa.array([["A"], ["A", "B"]], pa.list_(pa.string())),
            "embedding": pa.array([[0.1, 0.2], [0.3, 0.4]], pa.list_(pa.float32())),
        }
    )
    from neo4j_arrow_spark.operators.ingest import from_arrow, validate_fixed_length

    df = from_arrow(spark, table)
    assert df.count() == 2
    assert validate_fixed_length(df, "embedding") == 2
    g = gds_write_nodes(cat, "arrow_g", df, cache=False)
    assert g.node_count() == 2


def test_ragged_embedding_rejected(spark):
    from neo4j_arrow_spark.operators.ingest import (
        RaggedFixedSizeList,
        validate_fixed_length,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3])], "ID long, embedding array<double>"
    )
    with pytest.raises(RaggedFixedSizeList):
        validate_fixed_length(df, "embedding")


def test_label_partitioned_nodes_prune(spark, cat, node_df, rel_df, tmp_path):
    g = bulk_import(
        spark, cat, str(tmp_path / "db2"),
        node_df.toDF("ID", "LABELS", "age"),
        rel_df.toDF("START_ID", "END_ID", "TYPE", "weight"),
        database_name="db2p",
        partition_nodes_by_label=True,
    )
    assert (tmp_path / "db2" / "nodes" / "_primary_label=User").exists()
    scan = g.nodes.filter(F.col("_primary_label") == "User")
    assert scan.count() == 2
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_primary_label" in plan

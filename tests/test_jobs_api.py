from __future__ import annotations

import pytest

from neo4j_arrow_spark.api import Neo4jArrowSpark
from neo4j_arrow_spark.jobs import JobRegistry, JobStatus
from neo4j_arrow_spark.sources.tpch import load_tables
from neo4j_arrow_spark.sources.tpch_graph import graph_frames_from_tpch


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    client = Neo4jArrowSpark(spark)
    tables = load_tables(spark, sf_dir, ("customer", "supplier", "nation", "orders", "lineitem"))
    nodes, rels = graph_frames_from_tpch(spark, tables)
    client.catalog.register("tpch", nodes, rels)
    return client


def test_job_lifecycle(spark):
    reg = JobRegistry()
    job = reg.submit("test", lambda: spark.range(10))
    df = job.result(timeout=30)
    assert df.count() == 10
    assert reg.status(job.ticket) == "COMPLETE"
    assert job.ticket in reg.jobs()


def test_job_error_state(spark):
    reg = JobRegistry()

    def boom():
        raise RuntimeError("kaput")

    job = reg.submit("test", boom)
    job.wait(30)
    assert job.status is JobStatus.ERROR
    with pytest.raises(RuntimeError, match="kaput"):
        job.result(1)


def test_client_gds_nodes(client):
    job = client.gds_nodes("tpch", properties=["acctbal"], filters=["Customer"])
    df = client.stream(job, timeout=60)
    assert df.columns == ["ID", "LABELS", "acctbal"]
    assert df.count() == 150


def test_client_cypher_sql(client):
    job = client.cypher("SELECT count(*) AS n FROM tpch_rels WHERE TYPE = 'IN_NATION'")
    assert client.stream_to_pandas(job, timeout=60)["n"][0] == 160


def test_client_khop_and_status(client):
    job = client.khop("tpch", filters=["IN_NATION"])
    df = client.stream(job, timeout=120)
    assert df.columns == ["_origin_id_", "_source_ids_", "_target_ids_"]
    assert client.job_status(job.ticket) == "COMPLETE"
    assert client.version()["name"] == "neo4j_arrow_spark"
    assert ("neo4j", "neo4j", "tpch") in client.list_flights()


def test_client_write_roundtrip(spark, client):
    nodes = spark.createDataFrame(
        [(10, ["X"]), (11, ["X"])], "ID long, LABELS array<string>"
    )
    rels = spark.createDataFrame(
        [(10, 11, "R")], "START_ID long, END_ID long, TYPE string"
    )
    j1 = client.gds_write_nodes("wgraph", nodes)
    j1.result(60)
    j2 = client.gds_write_relationships("wgraph", rels)
    j2.result(60)
    # synchronous visibility: catalog usable the moment the job completes
    assert client.catalog.get("wgraph").rel_count() == 1


def test_scan_partitions_and_batch_size(client):
    job = client.gds_nodes("tpch", partitions=4, batch_size=123)
    df = client.stream(job, timeout=60)
    assert df.rdd.getNumPartitions() == 4
    assert (
        client.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "123"
    )


def test_two_phase_put_write(spark):
    """Reference flow parity: ticket the write job first, stream the
    table afterwards with put(); catalog visible on COMPLETE."""
    import pyarrow as pa

    from neo4j_arrow_spark.api import Neo4jArrowSpark

    client = Neo4jArrowSpark(spark)
    job = client.gds_write_nodes("twophase")
    assert client.job_status(job.ticket) in ("PENDING", "PRODUCING")
    table = pa.table(
        {"ID": [1, 2], "LABELS": [["A"], ["B"]], "p": [1.0, 2.0]}
    )
    rows, nbytes = client.put(job, table)
    assert rows == 2 and nbytes > 0
    assert job.result(60).count() == 2
    assert "twophase" in client.catalog
    # put on an inline-data job is an error
    inline = client.gds_write_nodes(
        "twophase2", spark.createDataFrame([(9, ["A"])], "ID long, LABELS array<string>")
    )
    inline.result(60)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not awaiting"):
        client.put(inline, table)
    # ticket-string addressing works too
    job2 = client.gds_write_relationships("twophase")
    rels = pa.table(
        {"START_ID": [1], "END_ID": [2], "TYPE": ["E"]}
    )
    client.put(job2.ticket, rels)
    assert job2.result(60).count() == 1


def test_bulk_import_two_stream_metadata(spark, tmp_path):
    """K3 protocol parity: two puts routed by stream.type schema
    metadata; the import runs once both streams arrive."""
    import pyarrow as pa

    from neo4j_arrow_spark.api import Neo4jArrowSpark

    client = Neo4jArrowSpark(spark)
    job = client.bulk_import("bulk2db", str(tmp_path / "bulk2db"))
    nodes = pa.table(
        {"ID": [1, 2], "LABELS": [["A"], ["A"]]}
    ).replace_schema_metadata({b"stream.type": b"node"})
    rels = pa.table(
        {"START_ID": [1], "END_ID": [2], "TYPE": ["E"]}
    ).replace_schema_metadata({b"stream.type": b"rels"})
    # order doesn't matter; the job blocks until both are in
    client.put(job, rels)
    assert client.job_status(job.ticket) in ("PENDING", "PRODUCING")
    client.put(job, nodes)
    assert job.result(120).count() == 2
    # missing/invalid metadata is rejected like BulkImportJob.java:192-198
    job2 = client.bulk_import("bulk2db2", str(tmp_path / "bulk2db2"))
    bad = pa.table({"ID": [1], "LABELS": [["A"]]})
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stream.type"):
        client.put(job2, bad)
    client.put(job2, bad, stream_type="node")  # explicit override works


def test_bulk_import_put_timeout_errors_job(spark, tmp_path):
    """An orphaned two-stream bulk import fails to ERROR within
    ``put_timeout``, whether it got no stream or only its node stream,
    instead of pinning its job thread."""
    import pyarrow as pa

    from neo4j_arrow_spark.api import Neo4jArrowSpark

    client = Neo4jArrowSpark(spark)
    client.put_timeout = 1
    idle = client.bulk_import("bulkto1", str(tmp_path / "bulkto1"))
    half = client.bulk_import("bulkto2", str(tmp_path / "bulkto2"))
    client.put(half, pa.table({"ID": [1], "LABELS": [["A"]]}), stream_type="node")
    for job, missing in ((idle, "node, rels"), (half, "rels")):
        assert job.wait(30), "the job still waits for its streams"
        assert job.status.value == "ERROR"
        assert f"no put() of {missing} within 1s" in job.error
    assert "bulkto1" not in client.catalog and "bulkto2" not in client.catalog


# -- credential validation (reference auth-layer parity) --------------------

def test_basic_auth_validator_roundtrip(spark):
    import base64

    import pytest

    from neo4j_arrow_spark.api import Neo4jArrowSpark
    from neo4j_arrow_spark.auth import AuthError, BasicAuthValidator

    v = BasicAuthValidator({"neo4j": "password", "ana": "s3cret"})
    client = Neo4jArrowSpark(spark, username="ana", password="s3cret", auth=v)
    assert client.username == "ana"

    tok = base64.b64encode(b"neo4j:password").decode()
    client2 = Neo4jArrowSpark(spark, auth=v, token=tok)
    assert client2.username == "neo4j"

    with pytest.raises(AuthError, match="invalid"):
        Neo4jArrowSpark(spark, username="ana", password="wrong", auth=v)
    with pytest.raises(AuthError, match="invalid"):
        Neo4jArrowSpark(spark, username="ghost", password="s3cret", auth=v)
    with pytest.raises(AuthError, match="malformed"):
        Neo4jArrowSpark(spark, auth=v, token="!!!notbase64")
    with pytest.raises(AuthError, match="separator"):
        Neo4jArrowSpark(
            spark, auth=v, token=base64.b64encode(b"nocolon").decode()
        )


def test_auth_identity_keys_catalog(spark):
    from neo4j_arrow_spark.api import Neo4jArrowSpark
    from neo4j_arrow_spark.auth import BasicAuthValidator
    from neo4j_arrow_spark.catalog import GraphNotFound

    import pytest

    nodes = spark.createDataFrame(
        [(1, ["N"])], "ID long, LABELS array<string>"
    )
    rels = spark.createDataFrame(
        [], "START_ID long, END_ID long, TYPE string"
    )
    v = BasicAuthValidator({"ana": "a", "bob": "b"})
    ana = Neo4jArrowSpark(spark, username="ana", password="a", auth=v)
    ana.catalog.register("private", nodes, rels, username="ana")
    # bob's identity cannot see ana's graph — the reference's
    # peer-identity-keyed GraphStoreCatalog behavior
    bob = Neo4jArrowSpark(spark, username="bob", password="b", auth=v)
    with pytest.raises(GraphNotFound):
        bob.catalog.get("private", "neo4j", "bob")

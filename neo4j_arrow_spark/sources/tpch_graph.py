"""Deterministic property-graph derivation from the TPC-H-ish tables.

The driver's correctness harness compares Spark results against DuckDB
SQL over the raw tables, so the graph fixture must be derivable in pure
SQL on both engines (FIXTURES.md F6). The derivation below is that
shared definition; :data:`NODES_SQL` / :data:`RELS_SQL` are the ANSI-SQL
equivalents used inside oracle queries.

Graph shape (reserved columns per Neo4jDefaults.java:7-20):

- nodes: customers (ID = c_custkey, LABELS [Customer, <mktsegment>]),
  suppliers (ID = 1_000_000 + s_suppkey, LABELS [Supplier]),
  nations (ID = 2_000_000 + n_nationkey, LABELS [Nation]);
  props: ``name string``, ``acctbal double``.
- rels: customer-[IN_NATION]->nation, supplier-[IN_NATION]->nation,
  customer-[BUYS_FROM]->supplier (one edge per lineitem via its order —
  parallel edges by construction, matching FIXTURES.md F2), prop
  ``weight double`` (NaN-free; IN_NATION weight = 1.0,
  BUYS_FROM weight = l_extendedprice).

ID offsets keep the three entity key spaces disjoint (< 2^30, the
reference's edge-packing assumption, ``plugin/.../gds/Edge.java:13-19``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SUPPLIER_OFFSET = 1_000_000
NATION_OFFSET = 2_000_000

#: ANSI SQL producing the node table on DuckDB (views: customer,
#: supplier, nation). Kept in lockstep with graph_frames_from_tpch().
NODES_SQL = f"""
SELECT c_custkey AS ID,
       ['Customer', c_mktsegment] AS LABELS,
       c_name AS name,
       c_acctbal AS acctbal
FROM customer
UNION ALL
SELECT s_suppkey + {SUPPLIER_OFFSET} AS ID,
       ['Supplier'] AS LABELS,
       s_name AS name,
       s_acctbal AS acctbal
FROM supplier
UNION ALL
SELECT n_nationkey + {NATION_OFFSET} AS ID,
       ['Nation'] AS LABELS,
       n_name AS name,
       CAST(NULL AS DOUBLE) AS acctbal
FROM nation
"""

#: ANSI SQL producing the relationship table on DuckDB.
RELS_SQL = f"""
SELECT c_custkey AS START_ID,
       c_nationkey + {NATION_OFFSET} AS END_ID,
       'IN_NATION' AS TYPE,
       1.0 AS weight
FROM customer
UNION ALL
SELECT s_suppkey + {SUPPLIER_OFFSET} AS START_ID,
       s_nationkey + {NATION_OFFSET} AS END_ID,
       'IN_NATION' AS TYPE,
       1.0 AS weight
FROM supplier
UNION ALL
SELECT o_custkey AS START_ID,
       l_suppkey + {SUPPLIER_OFFSET} AS END_ID,
       'BUYS_FROM' AS TYPE,
       l_extendedprice AS weight
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
"""


def graph_frames_from_tpch(
    spark: SparkSession, tables: dict[str, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Build (nodes_df, rels_df) from loaded TPC-H tables.

    Declarative unions/joins only: Catalyst prunes each branch to the
    referenced columns and pushes nothing extra through the scan. The
    BUYS_FROM branch joins lineitem->orders on the orderkey; at scale
    that's the one real shuffle here and it's on the natural join key,
    so co-partitioned (bucketed) storage would eliminate it entirely.
    """
    customer, supplier, nation = tables["customer"], tables["supplier"], tables["nation"]
    orders, lineitem = tables["orders"], tables["lineitem"]

    cust_nodes = customer.select(
        F.col("c_custkey").cast("long").alias("ID"),
        F.array(F.lit("Customer"), F.col("c_mktsegment")).alias("LABELS"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp_nodes = supplier.select(
        (F.col("s_suppkey") + SUPPLIER_OFFSET).cast("long").alias("ID"),
        F.array(F.lit("Supplier")).alias("LABELS"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    nation_nodes = nation.select(
        (F.col("n_nationkey") + NATION_OFFSET).cast("long").alias("ID"),
        F.array(F.lit("Nation")).alias("LABELS"),
        F.col("n_name").alias("name"),
        F.lit(None).cast("double").alias("acctbal"),
    )
    nodes = cust_nodes.unionByName(supp_nodes).unionByName(nation_nodes)

    cust_nation = customer.select(
        F.col("c_custkey").cast("long").alias("START_ID"),
        (F.col("c_nationkey") + NATION_OFFSET).cast("long").alias("END_ID"),
        F.lit("IN_NATION").alias("TYPE"),
        F.lit(1.0).alias("weight"),
    )
    supp_nation = supplier.select(
        (F.col("s_suppkey") + SUPPLIER_OFFSET).cast("long").alias("START_ID"),
        (F.col("s_nationkey") + NATION_OFFSET).cast("long").alias("END_ID"),
        F.lit("IN_NATION").alias("TYPE"),
        F.lit(1.0).alias("weight"),
    )
    buys = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("START_ID"),
            (F.col("l_suppkey") + SUPPLIER_OFFSET).cast("long").alias("END_ID"),
            F.lit("BUYS_FROM").alias("TYPE"),
            F.col("l_extendedprice").alias("weight"),
        )
    )
    rels = cust_nation.unionByName(supp_nation).unionByName(buys)
    return nodes, rels


"""Graph views over the star schema.

The reference's data model is an untyped, undirected edge list accessed
by dense long IDs (SURVEY.md §1.1; Runner.java:40-56,
RandomWalkingRunner.java:21-22). Spark-native equivalent: vertex/edge
DataFrames. We derive a bipartite-ish graph from the star schema:

- customer nodes:  node_id = c_custkey
- order nodes:     node_id = ORDER_OFFSET + o_orderkey
- part nodes:      node_id = PART_OFFSET + p_partkey
- edges: customer->order (from orders), order->part (from lineitem)

Undirected traversal (node.getRelationships() with no direction,
RandomWalkingRunner.java:21) maps to symmetrizing the edge list once.
ID offsets keep the node-ID space disjoint and dense-ish, preserving
the reference's "address by long ID" model (Runner.java:55-56) so ID
range predicates (OlapRunner.java:41-43) stay meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo_olap_spark.tables import load, parquet_row_count

# Offsets keep the three node-id ranges disjoint. 2^40 apart: a table
# would need a trillion rows before ranges could collide (1e6-style
# offsets silently merge order and part ids at TPC-H sf~0.7).
ORDER_OFFSET = 1 << 40
PART_OFFSET = 2 << 40


def customer_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges customer -> order."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").alias("src"),
        (F.lit(ORDER_OFFSET) + F.col("o_orderkey")).alias("dst"),
    )


def order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges order -> part (distinct: one edge per pair)."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
    ).distinct()


def edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full directed edge list of the derived graph."""
    return customer_order_edges(spark, sf_dir).unionAll(order_part_edges(spark, sf_dir))


def edges_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list WITHOUT the order->part distinct. For consumers that
    dedup anyway (collect_set adjacency, groupBy) this skips a full
    600k-row-per-SF shuffle."""
    lineitem = load(spark, sf_dir, "lineitem")
    op = lineitem.select(
        (F.lit(ORDER_OFFSET) + F.col("l_orderkey")).alias("src"),
        (F.lit(PART_OFFSET) + F.col("l_partkey")).alias("dst"),
    )
    return customer_order_edges(spark, sf_dir).unionAll(op)


def edge_count_estimate(spark: SparkSession, sf_dir: str) -> int:
    """Cheap upper bound on the symmetrized edge count, for sizing
    iteration-loop shuffles: 2 × (|orders| + |lineitem|). Both counts
    come from the parquet footers (tables.parquet_row_count) — no Spark
    job (the exact count would cost the order→part distinct, a full
    shuffle, before the loop even starts)."""
    return 2 * (parquet_row_count(sf_dir, "orders") + parquet_row_count(sf_dir, "lineitem"))


def symmetrize(e: DataFrame) -> DataFrame:
    """Undirected view: each edge appears in both directions.

    Spark analog of the reference's direction-free getRelationships()
    (RandomWalkingRunner.java:21-22).
    """
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def degrees(e: DataFrame) -> DataFrame:
    """Undirected degree per node: groupBy + count (partial agg map-side).

    Exact, shuffle-based replacement for the reference's racy shared
    int[] increments (OlapRunner.java:55, SURVEY.md §1.2/O4).
    """
    return symmetrize(e).groupBy(F.col("src").alias("node_id")).agg(F.count("*").alias("degree"))


# DuckDB oracle fragments reused by several registered queries.
ORACLE_EDGES = f"""
    SELECT o_custkey AS src, {ORDER_OFFSET} + o_orderkey AS dst FROM orders
    UNION ALL
    SELECT {ORDER_OFFSET} + l_orderkey AS src, {PART_OFFSET} + l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
"""

ORACLE_SYM_EDGES = f"""
    WITH e AS ({ORACLE_EDGES}),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)
"""

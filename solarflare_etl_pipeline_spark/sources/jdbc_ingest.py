"""JDBC *source*: parallel partitioned reads from a relational database.

Complements ``sinks.sink_jdbc`` (the write side): the reference's only
database access is per-row INSERTs through an Airflow PostgresHook
(``/root/reference/dags/etl.py:76-89``); reading back is out of its
scope entirely — this source is part of the mandate widening (a
complete engine ingests FROM operational stores too).

Scale notes: a naive ``spark.read.jdbc(url, table)`` is a SINGLE
connection pulling the whole table through one task.  The partitioned
form (``partitionColumn``/``lowerBound``/``upperBound``/
``numPartitions``) issues one range-predicate query per partition in
parallel — at 100 TB you bound ``numPartitions`` by what the database
can serve concurrently and align ranges with the table's primary-key
clustering so each range query is an index range scan, not a full scan
per partition.  Pushdown: Catalyst ships filters and column pruning
into the generated SQL (inspect with .explain: PushedFilters appear in
the JDBCRelation scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.functions.numeric import dsum
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once, derby_url


def _ensure_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Load a projected slice of ``orders`` into an embedded Derby
    database once per source; returns the JDBC url. Embedded Derby
    locks a database per JVM, so each process gets its own."""

    def build(db: str) -> None:
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
            .write.format("jdbc")
            .option("url", derby_url(spark, db))
            .option("dbtable", "orders_src")
            .option("batchsize", "10000")
            .mode("overwrite")
            .save()
        )

    return derby_url(spark, build_once("derby_src", sf_dir, build))


@register(
    "ingest_jdbc",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_price
        FROM orders
        WHERE o_totalprice > 100000
        GROUP BY o_orderstatus
    """,
    doc="Parallel partitioned JDBC source: orders loaded into embedded Derby "
    "(the driver Spark ships), read back with partitionColumn=o_orderkey over "
    "8 ranges — 8 concurrent range-predicate queries instead of one "
    "whole-table connection — with the price filter pushed into the remote "
    "SQL. The aggregate then runs distributed over the 8 fetched partitions.",
)
def ingest_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = _ensure_orders_table(spark, sf_dir)
    bounds = (
        table(spark, sf_dir, "orders")
        .agg(F.min("o_orderkey"), F.max("o_orderkey"))
        .first()
    )
    back = spark.read.jdbc(
        url,
        "orders_src",
        column="o_orderkey",
        lowerBound=int(bounds[0]),
        upperBound=int(bounds[1]) + 1,
        numPartitions=8,
    )
    return (
        back.where(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )

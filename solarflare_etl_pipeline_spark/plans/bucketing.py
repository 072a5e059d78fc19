"""Bucketed tables: shuffle-free co-located joins (the 100 TB fact-fact
join strategy, SURVEY.md §4.3).

A sort-merge join between two tables bucketed on the join key by the
same bucket count needs NO exchange on either side — the map tasks read
matching buckets directly.  At 100 TB this turns the recurring
orders ⋈ lineitem shuffle (the dominant cost of every order-level
query) into a scan-side merge.

``join_bucketed`` is registered as a driver query: it materializes
bucketed copies of orders/lineitem with ``bucketBy(8, key).sortBy(key)``
(external tables in the scratch space, named and placed by
``state.store_path`` so each source directory gets its own) and returns
the joined aggregate; ``tests/test_semantics.py::test_bucketed_join_no_shuffle``
asserts the executed plan contains no Exchange above either scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.functions.numeric import (
    dsum_exact,
    price_dec,
    rate_dec,
    sql_dsum_exact,
    sql_price,
    sql_rate,
)
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import store_path

N_BUCKETS = 8


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write bucketed external copies of orders/lineitem once per source
    and session, and return their table names (the scratch leaf name
    doubles as the table name)."""
    names = []
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        path = store_path(f"bkt_{name}", sf_dir)
        tbl = os.path.basename(path)
        names.append(tbl)
        if not spark.catalog.tableExists(tbl):
            (
                table(spark, sf_dir, name)
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    return names[0], names[1]


def demo_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on the bucketed key: zero-exchange sort-merge."""
    bkt_orders, bkt_lineitem = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(bkt_orders)
    l = spark.table(bkt_lineitem)
    revenue = price_dec("l_extendedprice") * (1 - rate_dec("l_discount"))
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            dsum_exact(revenue, "revenue"),
        )
    )


@register(
    "join_bucketed",
    oracle=f"""
        SELECT o.o_orderpriority,
               COUNT(*) AS n_lineitems,
               {sql_dsum_exact(f'{sql_price("l.l_extendedprice")} * (1 - {sql_rate("l.l_discount")})', 'revenue')}
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
    doc="Co-located fact-fact join: orders and lineitem materialized as bucketed "
    "tables (bucketBy(8, orderkey) + sortBy), then sort-merge joined with ZERO "
    "exchange below the join — the map tasks read matching buckets directly. At "
    "100 TB this is the canonical layout for the recurring orders ⋈ lineitem "
    "shuffle; the no-Exchange plan shape is asserted in "
    "tests/test_semantics.py::test_bucketed_join_no_shuffle.",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return demo_bucketed_join(spark, sf_dir)

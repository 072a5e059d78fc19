"""XML ingestion: Spark 4's NATIVE XML source (spark-xml merged into
core — no external package).

Rounds out the source-format surface (parquet, JSON, CSV, raw text,
JDBC, ORC, HTTP, custom Python source) with the remaining
enterprise-intake shape: nested markup drops. Same contract discipline
as ``csv_ingest``: explicit schema (never a type-inference second scan),
FAILFAST on malformed rows, fixture written once per source, and an
oracle recomputed from the parquet view so the text round trip itself is
what is certified (Java's shortest-repr double formatting survives XML
exactly like CSV).

Scale notes: XML files split by ``rowTag`` boundaries — a directory of
row-tagged files parallelizes per file like JSON; one giant document
does NOT split (the intake contract should shard files). Keep payloads
row-tagged and schema explicit and the scan behaves like any columnar
intake followed by a projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once

PART_XML_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)


def ensure_part_xml(spark: SparkSession, sf_dir: str) -> str:
    """Write ``part`` as row-tagged XML once per source."""
    return build_once(
        "part_xml",
        sf_dir,
        lambda path: table(spark, sf_dir, "part")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "part")
        .save(path),
    )


@register(
    "ingest_xml",
    oracle="""
        SELECT p_brand,
               COUNT(*) AS n_parts,
               MIN(p_size) AS min_size,
               MAX(p_size) AS max_size,
               CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
                   AS total_price
        FROM part
        WHERE p_size >= 10
        GROUP BY p_brand
    """,
    doc="Typed XML ingestion through Spark 4's native XML source: part written "
    "row-tagged once per process, read back through an explicit StructType "
    "with mode=FAILFAST, then filtered and aggregated per brand. The oracle "
    "recomputes from the parquet view, so markup round-trip fidelity for "
    "longs/ints/doubles/strings is the thing certified.",
)
def ingest_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_part_xml(spark, sf_dir)
    from solarflare_etl_pipeline_spark.functions.numeric import dsum

    df = (
        spark.read.schema(PART_XML_SCHEMA)
        .format("xml")
        .option("rowTag", "part")
        .option("mode", "FAILFAST")
        .load(path)
    )
    return (
        df.where(F.col("p_size") >= 10)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
            dsum("p_retailprice", "total_price"),
        )
    )

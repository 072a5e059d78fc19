"""CSV ingestion: delimited-text source with an explicit schema.

Rounds out the source-format surface (parquet scan, JSON payloads,
live HTTP, JDBC) with the one format every ETL intake still meets.
The reference's intake is JSON-over-HTTP (``/root/reference/dags/
etl.py:36-47``); CSV is the adjacent bulk-drop shape the same pipeline
consumes from object storage.

Spark-first mechanics this exercises:
  * explicit ``StructType`` schema — NO ``inferSchema`` (a second full
    pass over 100 TB just to guess types is the classic intake
    anti-pattern; schema comes from the contract, not the data);
  * ``header``/``quote``/``escape`` options on both the write and the
    read side, so delimiter-bearing strings survive the round trip;
  * malformed-row policy pinned to FAILFAST — at intake, silent
    NULL-filling (PERMISSIVE) turns data bugs into model bugs.

The registered query writes a CSV copy of ``customer`` once per
source (``state.build_once``), reads it back through the typed
schema, and applies a filter+projection. The oracle recomputes the
expected result from the parquet view, so the round trip itself is
what is being certified (Java's Double.toString is shortest-repr
round-trippable, so doubles survive text exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once, store_path

CUSTOMER_CSV_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


def ensure_customer_csv(spark: SparkSession, sf_dir: str) -> str:
    """Write ``customer`` as headered CSV once per source."""
    return build_once(
        "customer_csv",
        sf_dir,
        lambda path: table(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .option("header", True)
        .csv(path),
    )


@register(
    "ingest_csv",
    oracle="""
        SELECT c_custkey,
               c_name,
               c_nationkey,
               c_acctbal,
               UPPER(c_mktsegment) AS segment_uc
        FROM customer
        WHERE c_acctbal > 0
    """,
    doc="Typed CSV ingestion: write customer as headered CSV (once per process), "
    "read back through an explicit StructType with mode=FAILFAST, filter + "
    "project. Certifies text round-trip fidelity for longs/ints/doubles/strings "
    "against the parquet-derived oracle. Scale notes: explicit schema avoids the "
    "inferSchema second scan; CSV splits by line so reads parallelize per block; "
    "FAILFAST surfaces malformed rows at intake instead of NULL-filling them.",
)
def ingest_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_customer_csv(spark, sf_dir)
    df = (
        spark.read.schema(CUSTOMER_CSV_SCHEMA)
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(path)
    )
    return df.where(F.col("c_acctbal") > 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.upper("c_mktsegment").alias("segment_uc"),
    )


@register(
    "ingest_csv_corrupt",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END)
                    AS BIGINT) AS sum_chars_clean
        FROM documents
        GROUP BY lang
    """,
    doc="Malformed-CSV ingestion (PERMISSIVE + columnNameOfCorruptRecord) "
    "— the CSV sibling of ingest_json_corrupt: a comma-delimited feed "
    "is derived from documents with every doc_id % 11 == 0 line's "
    "numeric n_chars field replaced by a non-numeric token; the typed "
    "reader parses clean lines fully, lands each broken line's raw "
    "text in _corrupt_record, NULLs only the unparseable field, and "
    "the job never dies. Unlike the JSON case (whole record lost), "
    "CSV PERMISSIVE keeps the fields that did parse — doc_id and "
    "lang survive on corrupt rows, so the lang grouping is the REAL "
    "lang and the oracle certifies three things at once from the "
    "corruption rule alone: row conservation, per-lang quarantine "
    "counts, and that clean-row n_chars sums are untouched. "
    "Generated distributed (concat + conditional rewrite + text "
    "write); read is a narrow typed scan — the quarantine pattern at "
    "any scale.",
)
def ingest_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("corrupt_csv", sf_dir)
    line = F.concat_ws(
        ",", F.col("doc_id"), F.col("lang"), F.col("n_chars")
    )
    corrupted = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.lit("XX")),
    ).otherwise(line)
    (
        table(spark, sf_dir, "documents")
        .select(corrupted.alias("value"))
        .write.mode("overwrite")
        .text(target)
    )
    schema = "doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING"
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(target)
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
        .cast("long")
        .alias("n_corrupt"),
        F.sum("n_chars").cast("long").alias("sum_chars_clean"),
    )


FW_ID_W = 12     # fixed-width layout: doc_id right-padded to 12
FW_LANG_W = 8    # lang right-padded to 8
FW_NUM_W = 10    # n_chars left-padded (right-aligned) to 10


@register(
    "ingest_fixed_width",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc
        FROM documents
        GROUP BY lang
    """,
    doc=f"Fixed-width (mainframe/COBOL copybook) file ingestion — the "
    f"connector shape Spark has no native reader for, done the "
    f"Spark-idiomatic way: read as a text source (splittable, "
    f"parallel), then SUBSTRING each field out by byte offset and "
    f"cast — all JVM column expressions under codegen, no Python "
    f"row parsing. Layout: doc_id right-padded to {FW_ID_W}, lang "
    f"right-padded to {FW_LANG_W}, n_chars right-ALIGNED in "
    f"{FW_NUM_W} (the numeric-field convention); TRIM strips the "
    f"pad. The feed is derived distributed from documents (rpad/"
    f"lpad + text write), so the oracle certifies the whole "
    f"write-then-parse round trip against the source table: row "
    f"conservation, per-lang sums, key extremes. At 100 TB: text "
    f"files split by line, substring parsing is narrow, and the "
    f"layout constants are the only schema — exactly how EBCDIC-"
    f"export pipelines land in Spark.",
)
def ingest_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("fixed_width", sf_dir)
    line = F.concat(
        F.rpad(F.col("doc_id").cast("string"), FW_ID_W, " "),
        F.rpad(F.col("lang"), FW_LANG_W, " "),
        F.lpad(F.col("n_chars").cast("string"), FW_NUM_W, " "),
    )
    (
        table(spark, sf_dir, "documents")
        .select(line.alias("value"))
        .write.mode("overwrite")
        .text(target)
    )
    raw = spark.read.text(target)
    parsed = raw.select(
        F.trim(F.substring("value", 1, FW_ID_W)).cast("long").alias("doc_id"),
        F.trim(
            F.substring("value", FW_ID_W + 1, FW_LANG_W)
        ).alias("lang"),
        F.trim(
            F.substring("value", FW_ID_W + FW_LANG_W + 1, FW_NUM_W)
        )
        .cast("long")
        .alias("n_chars"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )

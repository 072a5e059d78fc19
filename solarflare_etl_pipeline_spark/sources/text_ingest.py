"""Line-oriented text source: ``spark.read.text`` + in-plan parsing.

The rawest corpus format an LLM data pipeline meets (one record per
line, tab-separated fields — the WET/JSONL-adjacent shape). The
reference only ever ingests JSON over HTTP (R1,
``/root/reference/dags/etl.py:30-46``); this widens the source surface
the same way ``csv_ingest``/``ingest_jdbc`` do.

Scale notes: text files split by line boundaries at
``maxPartitionBytes`` like any file source, so a 100 TB line corpus
parallelizes without any pre-chunking; the split/parse is narrow
column work under codegen. Malformed lines are dropped by an explicit
arity filter rather than crashing the scan — at scale you count them
(observe/accumulator) instead of failing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once


def ensure_text_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write ``documents`` one tab-separated line per row, once per source."""
    return build_once(
        "text_corpus",
        sf_dir,
        lambda path: table(spark, sf_dir, "documents")
        .select(F.concat_ws("\t", "doc_id", "lang", "source", "text").alias("value"))
        .write.mode("overwrite")
        .text(path),
    )


@register(
    "ingest_text",
    oracle="""
        SELECT doc_id, lang, source, LENGTH(text) AS n_chars
        FROM documents
    """,
    doc="Line-oriented text ingestion: documents serialized one-per-line "
    "(tab-separated), read back via spark.read.text and parsed in-plan with "
    "split (limit 4 keeps tabs inside the body intact). Line-boundary file "
    "splitting parallelizes a raw text corpus with no pre-chunking; the parse "
    "is narrow codegen work. Malformed lines are filtered by arity, not "
    "crashed on.",
)
def ingest_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_text_corpus(spark, sf_dir)
    lines = spark.read.text(path)
    parts = F.split("value", "\t", 4)
    return (
        lines.select(
            parts.getItem(0).cast("long").alias("doc_id"),
            parts.getItem(1).alias("lang"),
            parts.getItem(2).alias("source"),
            F.length(parts.getItem(3)).alias("n_chars"),
        )
        .where(F.col("doc_id").isNotNull())
    )

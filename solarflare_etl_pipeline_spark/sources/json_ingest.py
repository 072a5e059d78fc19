"""Semi-structured JSON ingestion + the solar-flare reference pipeline.

This module carries the reference's entire executable surface
(SURVEY.md §2.1 R1+R4+R5+R6+R7, ``/root/reference/dags/etl.py:36-89``)
re-expressed Spark-first:

  * HTTP JSON payload            → ``spark.read.schema(...).json`` /
                                   ``from_json`` on staged payloads
  * per-record projection/rename → one ``select`` with aliases
  * null-tolerant field access   → schema'd read (missing key ⇒ NULL;
                                   a malformed record fails the load)
  * implicit string→type casts   → explicit ``to_timestamp`` / ``cast``
  * row-at-a-time keyed INSERT   → bulk ``dropDuplicates`` + left-anti
    (ON CONFLICT DO NOTHING)       join + single append write

The registered ``ingest_json`` query exercises the same semantics on
the shared ``events.props`` JSON column (oracle-checkable); the
solar-flare-shaped fixture path is covered by the idempotence
regression in ``tests/test_solar_flare_pipeline.py``.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import store_path

#: Typed schema of the DONKI FLR payload consumed by the reference
#: (fields used at /root/reference/dags/etl.py:54-61).
FLARE_RAW_SCHEMA = T.StructType(
    [
        T.StructField("flrID", T.StringType()),
        T.StructField("classType", T.StringType()),
        T.StructField("beginTime", T.StringType()),
        T.StructField("peakTime", T.StringType()),
        T.StructField("endTime", T.StringType()),
        T.StructField("sourceLocation", T.StringType()),
        T.StructField("activeRegionNum", T.IntegerType()),
        T.StructField("link", T.StringType()),
    ]
)

ISO_MINUTE = "yyyy-MM-dd'T'HH:mm'Z'"


def read_flare_json(spark: SparkSession, path: str) -> DataFrame:
    """Stage-file equivalent of the reference's HttpOperator fetch
    (dags/etl.py:36-45): schema'd JSON read of NDJSON or one-line JSON
    arrays. Missing keys become NULL exactly like the reference's
    ``dict.get``; a malformed record (a pretty-printed array, a
    truncated line) fails the read instead of loading as an all-NULL
    row that the keyed dedup could never match."""
    return spark.read.schema(FLARE_RAW_SCHEMA).option("mode", "FAILFAST").json(path)


def transform_flares(raw: DataFrame) -> DataFrame:
    """The reference's transform_flr_data (dags/etl.py:48-64): keep 8
    fields, snake_case names, explicit ISO-8601→timestamp casts
    (replacing the implicit Postgres casts at dags/etl.py:25-29)."""
    return raw.select(
        F.col("flrID").alias("flr_id"),
        F.col("classType").alias("class_type"),
        F.to_timestamp("beginTime", ISO_MINUTE).alias("begin_time"),
        F.to_timestamp("peakTime", ISO_MINUTE).alias("peak_time"),
        F.to_timestamp("endTime", ISO_MINUTE).alias("end_time"),
        F.col("sourceLocation").alias("source_location"),
        F.col("activeRegionNum").alias("active_region_num"),
        F.col("link").alias("link"),
    )


def idempotent_append(batch: DataFrame, existing: DataFrame | None, key: str = "flr_id") -> DataFrame:
    """The reference's keyed deduplicating load (dags/etl.py:66-89,
    ON CONFLICT (flr_id) DO NOTHING) as two bulk ops: first-wins within
    the batch, then left-anti against already-loaded keys — one shuffle
    each instead of one INSERT round-trip per row."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col("begin_time").asc_nulls_last(), F.col(key))
    deduped = (
        batch.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )
    if existing is None:
        return deduped
    return deduped.join(existing.select(key), key, "left_anti")


def load_flares(spark: SparkSession, json_path: str, target_path: str) -> None:
    """End-to-end pipeline: read → transform → dedup vs target → append
    (the whole reference DAG, dags/etl.py:91-98, as one lazy plan)."""
    batch = transform_flares(read_flare_json(spark, json_path))
    try:
        existing = spark.read.parquet(target_path)
    except AnalysisException as e:
        # only "no table yet" may skip the dedup; any other read error
        # would silently turn the keyed load into a plain append
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        existing = None
    fresh = idempotent_append(batch, existing)
    fresh.write.mode("append").parquet(target_path)


@register(
    "ingest_json",
    oracle="""
        SELECT event_id,
               CAST(ts AS TIMESTAMP) AS ingested_at,
               event_type AS kind,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               COALESCE(CAST(json_extract_string(props, '$.missing_field') AS VARCHAR),
                        'absent') AS optional_field
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="Semi-structured ingest on shared data: parse events.props JSON, project/rename, "
    "cast, null-tolerant optional field (reference R1+R4+R5+R6, dags/etl.py:36-64).",
)
def ingest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.col("ts").alias("ingested_at"),
        F.col("event_type").alias("kind"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.coalesce(F.get_json_object("props", "$.missing_field"), F.lit("absent")).alias(
            "optional_field"
        ),
    )
    return parsed.where(F.col("k").isNotNull())


@register(
    "ingest_json_corrupt",
    oracle="""
        SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt
        FROM documents
        GROUP BY 1
    """,
    doc="Malformed-input ingestion (PERMISSIVE mode with "
    "columnNameOfCorruptRecord): a JSONL feed is derived from the "
    "documents table with every doc_id % 7 == 0 line TRUNCATED "
    "mid-record; the reader parses good lines into typed columns and "
    "lands broken ones in the _corrupt_record column instead of "
    "failing the job — the quarantine pattern (reference R1's fetch "
    "never validates payloads; a production feed needs the bad-line "
    "path). The summary groups by parsed lang (NULL = quarantined) "
    "with corrupt counts; the ORACLE predicts it from the corruption "
    "rule alone, so parsing fidelity is hash-certified. FAILFAST and "
    "DROPMALFORMED are the documented alternatives; PERMISSIVE + "
    "quarantine audit is the 100 TB default because one bad byte "
    "must not kill a 10-hour load.",
)
def ingest_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("corrupt_jsonl", sf_dir)
    # the corrupted feed is generated DISTRIBUTED (to_json + conditional
    # truncation, then a text write) — no driver-side row loop
    line = F.to_json(F.struct("doc_id", "lang"))
    # ADVICE r6: truncate RELATIVE to line length (drop the closing two
    # chars) — a fixed substring(…, 1, 14) could leave a short line
    # (e.g. to_json dropping a NULL lang for a small doc_id) intact and
    # parseable, breaking the oracle's every-7th-row-is-corrupt rule.
    corrupted = F.when(
        F.col("doc_id") % 7 == 0,
        line.substr(F.lit(1), F.length(line) - 2),
    ).otherwise(line)
    (
        table(spark, sf_dir, "documents")
        .select(corrupted.alias("value"))
        .write.mode("overwrite")
        .text(target)
    )
    schema = "doc_id LONG, lang STRING, _corrupt_record STRING"
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(target)
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("int"))
        .cast("long")
        .alias("n_corrupt"),
    )


@register(
    "ingest_json_multiline",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    doc="multiLine JSON-ARRAY ingestion (spark.read.option('multiLine', "
    "true)): one file containing a single JSON array of objects — the "
    "format REST exports and config dumps arrive in, and the reader "
    "mode ndjson-oriented ingest_json cannot parse (a JSON array is "
    "one record to a line-splitting reader). The feed is derived from "
    "documents (per-row objects string-aggregated into one array "
    "document), read back multiLine, and certified per-lang against "
    "the source. THE SCALE WARNING IS THE POINT: a multiLine JSON "
    "file is NOT line-splittable — one file = one task regardless of "
    "size, so at 100 TB this format is quarantined to small control/"
    "metadata feeds and everything bulk is converted to ndjson/"
    "parquet on first touch (this op's doc is the conversion "
    "rationale). The derivation's single-file collapse is inherent "
    "to constructing a valid JSON array, not a pattern for data.",
)
def ingest_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("multiline_json", sf_dir)
    obj = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    # a JSON array is a single document by definition: aggregate the
    # rows into one array text (bounded: 3 scalar fields per row; the
    # doc explains why this format must never carry bulk data)
    arr = (
        table(spark, sf_dir, "documents")
        .select(obj.alias("o"))
        .agg(F.concat_ws(",", F.collect_list("o")).alias("body"))
        .select(F.concat(F.lit("["), F.col("body"), F.lit("]")).alias("value"))
    )
    arr.coalesce(1).write.mode("overwrite").text(target)
    back = (
        spark.read.option("multiLine", True)
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .json(target)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )

"""foreachBatch sink: a REAL micro-batch streaming query with an
exactly-once accumulation protocol, registered as a driver-checkable key.

Reference anchor: the reference's whole pipeline is a scheduled
micro-batch with sink-side dedup (R7/R13, ``/root/reference/dags/
etl.py:74-89``) — this is that pattern in Structured Streaming form:
``readStream`` over a file source, ``foreachBatch`` writing PARTIAL
aggregates to a batch_id-scoped directory with ``mode=overwrite``
(replay of a failed batch overwrites its own output — idempotent), and
the final state as a re-aggregation of the partials.

Exactly-once argument (what the oracle certifies): every input file is
processed in exactly one committed batch (checkpoint WAL), every batch
writes exactly one partition directory keyed by its batch_id, replays
overwrite rather than append — so the final re-aggregation equals the
one-shot batch aggregate over the same input, which is the DuckDB SQL.
Partials carry exact DECIMAL sums, so the merge is order-free.

Scale notes: this is the streaming ingestion shape at 100 TB — partial
aggregates per micro-batch are tiny (one row per event_type), the
target grows by O(#batches), and compaction is a metadata-free
re-aggregation. The alternative (stateful complete-mode aggregation)
holds all state in the store; the partial-merge protocol bounds it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.functions.numeric import DEC, sql_dsum
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once, store_path



def ensure_events_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """Write ``events`` as a 4-file stream source once per source."""
    return build_once(
        "events_stream",
        sf_dir,
        lambda path: table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(path),
    )


def partial_agg_sink(out_dir: str):
    """foreachBatch callback: write this batch's PARTIAL aggregate under
    its batch_id partition, overwriting on replay (idempotent)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count("*").alias("n_part"),
                F.sum(F.col("value").cast(DEC)).alias("sum_part"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    return sink


@register(
    "stream_foreach_batch",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
    """,
    doc="Exactly-once foreachBatch sink, executed as a REAL Structured Streaming "
    "query (availableNow over a 4-file source, maxFilesPerTrigger=1 → 4 "
    "micro-batches): each batch writes its partial aggregate to a "
    "batch_id-keyed directory with overwrite-on-replay idempotency; the final "
    "state is the order-free decimal merge of the partials. The oracle is the "
    "one-shot batch aggregate — equality IS the exactly-once property.",
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = ensure_events_stream_files(spark, sf_dir)
    out = store_path("fb_out", sf_dir)
    ckpt = store_path("fb_ckpt", sf_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(partial_agg_sink(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # re-invocation in the same process: the checkpoint marks all files
    # processed, the stream commits no new batches, and the partials are
    # unchanged — the query is side-effect-idempotent.
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.sum("n_part").alias("n_events"),
            F.sum("sum_part").cast("double").alias("total_value"),
        )
    )


@register(
    "stream_restart_exactly_once",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value', 'total_value')}
        FROM events
        GROUP BY event_type
    """,
    doc="Checkpoint-restart exactly-once certification — the property "
    "stream_foreach_batch can't show, because it runs one query over a "
    "static source: here the SAME checkpoint serves TWO sequential "
    "availableNow queries against a source that GROWS between them "
    "(half the events, then the other half dropped in as new files). "
    "The restarted query must resume from the checkpoint's WAL and "
    "process ONLY the new files: batch ids continue (never reuse), so "
    "any reprocessing of phase-A files would land duplicate partials "
    "in fresh batch_id dirs and the final merge would double-count — "
    "equality with the one-shot batch aggregate over ALL events IS "
    "the exactly-once-across-restart property. This is the daily "
    "operational shape at 100 TB: a long-lived checkpoint, new "
    "partitions arriving between runs, availableNow draining them — "
    "the engine-level realization of the reference's daily "
    "overlapping-window cadence (dags/etl.py:12) with restart "
    "safety the reference's INSERT loop cannot give.",
)
def stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    src, stage, out, ckpt = (
        store_path(f"restart_{d}", sf_dir) for d in ("src", "stage", "out", "ckpt")
    )
    for d in (src, stage, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    e = table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # phase A: even event_ids land as the initial source files
    e.where(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(partial_agg_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    # phase B: odd event_ids arrive as NEW files in the same directory
    e.where(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(stage)
    for i, fn in enumerate(sorted(os.listdir(stage))):
        if fn.endswith(".parquet"):
            shutil.move(
                os.path.join(stage, fn),
                os.path.join(src, f"late_{i}.parquet"),
            )
    run_once()  # restart from the SAME checkpoint — must drain only B
    batch_dirs = (
        [d for d in os.listdir(out) if d.startswith("batch_id=")]
        if os.path.isdir(out)
        else []
    )
    if not batch_dirs:
        return spark.createDataFrame(
            [], "event_type string, n_events bigint, total_value double"
        )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.sum("n_part").cast("long").alias("n_events"),
            F.sum("sum_part").cast("double").alias("total_value"),
        )
    )

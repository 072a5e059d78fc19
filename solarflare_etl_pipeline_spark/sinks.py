"""Sinks: bulk parquet (partitioned) and JDBC.

Reference anchor: R7's row-at-a-time INSERT loop
(``/root/reference/dags/etl.py:76-89``) — replaced by single bulk
writes; SURVEY.md §4.1 calls out the O(N) round-trips this removes.

``sink_parquet`` is registered as a query: it writes a date-partitioned
parquet dataset (overwrite), reads it back, and returns a per-partition
summary — exercising the full write→read round-trip so the oracle can
check it end-to-end (the write path is part of the plan, not a side
effect the driver can't see).

``write_jdbc`` is wiring only: the container has no reachable database,
so it is exercised for argument plumbing in unit tests but not
registered (SURVEY.md §2.2 lists it as an optional sink).

Scale notes: the partitioned write repartitions by the partition column
first so each task writes one directory (no small-files explosion:
without it, every task writes a file into every partition dir —
tasks × partitions files).  At 100 TB add
``maxRecordsPerFile`` and sort-within-partition for row-group locality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarflare_etl_pipeline_spark.catalog import table
from solarflare_etl_pipeline_spark.functions.numeric import (
    dsum,
    sql_dsum,
    sql_dsum_exact,
    sql_price,
    sql_rate,
)
from solarflare_etl_pipeline_spark.registry import register
from solarflare_etl_pipeline_spark.state import build_once, derby_url, store_path


def write_partitioned_parquet(df: DataFrame, path: str, partition_col: str) -> None:
    """Bulk partitioned write: one shuffle on the partition column, one
    file per partition-dir per task (vs. the reference's one INSERT per
    row, dags/etl.py:76-89)."""
    (
        df.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_jdbc(df: DataFrame, url: str, table_name: str, mode: str = "append", **options) -> None:
    """JDBC bulk sink (replaces the reference's per-row PostgresHook.run
    round-trips). Batched inserts; numPartitions bounds connection count."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table_name)
    for k, v in {"batchsize": "10000", "numPartitions": "8", **options}.items():
        writer = writer.option(k, str(v))
    writer.mode(mode).save()


@register(
    "sink_jdbc",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_customers,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_balance
        FROM customer
        GROUP BY c_mktsegment
    """,
    doc="JDBC sink round-trip against embedded Derby (the JDBC driver Spark ships): "
    "bulk batched write (replacing the reference's per-row INSERT loop, "
    "dags/etl.py:76-89), then spark.read.jdbc back. Same wiring works against "
    "Postgres/MySQL by swapping the URL.",
)
def sink_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = derby_url(spark, store_path("derby", sf_dir))
    agg = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
        )
    )
    write_jdbc(agg, url, "customer_summary", mode="overwrite", numPartitions="1")
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "customer_summary").load()
    return back.select("c_mktsegment", "n_customers", "total_balance")


@register(
    "sink_parquet",
    oracle=f"""
        SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice', 'total_price')}
        FROM orders
        GROUP BY 1
    """,
    doc="Partitioned parquet sink round-trip: write orders partitioned by year "
    "(overwrite), read the dataset back, aggregate per partition — verifies schema "
    "fidelity and partition completeness through the write→read cycle.",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a sink rewrites its target on every call — that IS the op
    target = store_path("sink_parquet", sf_dir)
    o = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    write_partitioned_parquet(o, target, "order_year")
    back = spark.read.parquet(target)
    return back.groupBy("order_year").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )


def ensure_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Return the path of a year-partitioned copy of ``orders``, written
    once per source. Writing it once matters: a rewrite would leave a
    DataFrame planned before it holding a stale file index."""

    def build(path: str) -> None:
        o = table(spark, sf_dir, "orders").withColumn(
            "order_year", F.year("o_orderdate").cast("long")
        )
        write_partitioned_parquet(o, path, "order_year")

    return build_once("orders_by_year", sf_dir, build)


def pruned_orders_scan(spark: SparkSession, sf_dir: str, year: int = 1997) -> DataFrame:
    """Write orders date-partitioned once, read back with a partition
    predicate — the scan Spark plans with ``PartitionFilters`` (directory
    pruning: non-matching years are never opened). This is the executable
    form of the 100 TB layout claim in ``catalog.py``/SCALING.md, asserted
    on the physical plan in tests/test_plan_audit.py."""
    target = ensure_partitioned_orders(spark, sf_dir)
    return spark.read.parquet(target).where(F.col("order_year") == year)


@register(
    "scan_pruned",
    oracle=f"""
        SELECT EXTRACT(MONTH FROM o_orderdate) AS order_month,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice', 'total_price')}
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        GROUP BY 1
    """,
    doc="Partition-pruned scan: orders written partitioned by year, read back with "
    "an order_year predicate that resolves to PartitionFilters (directory-level "
    "pruning — at 100 TB only the matching year's files are listed/opened), then "
    "a per-month aggregate over the pruned scan.",
)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    pruned = pruned_orders_scan(spark, sf_dir, year=1997)
    return (
        pruned.withColumn("order_month", F.month("o_orderdate").cast("long"))
        .groupBy("order_month")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@register(
    "join_dpp",
    oracle=f"""
        SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice', 'total_price')}
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
        GROUP BY 1
    """,
    doc="Dynamic partition pruning: a date-partitioned fact joined to a filtered "
    "dimension — Spark builds the partition filter AT RUNTIME from the dim's "
    "surviving keys (SubqueryAdaptiveBroadcast dynamicpruning in the plan, "
    "asserted in tests/test_plan_audit.py), so only the matching year directories "
    "are scanned even though the years are not a literal in the fact predicate. "
    "At 100 TB this is what makes star-join queries scan 2 of 84 month partitions "
    "instead of all of them.",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same write-once partitioned fact scan_pruned uses
    fact = spark.read.parquet(ensure_partitioned_orders(spark, sf_dir))
    dim = spark.createDataFrame(
        [(1995, "drop"), (1996, "keep"), (1997, "keep"), (1998, "drop")],
        "yr long, tag string",
    )
    return (
        fact.join(dim.where(F.col("tag") == "keep"), fact["order_year"] == F.col("yr"))
        .groupBy("order_year")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


def ensure_orc_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Write an ORC copy of ``lineitem`` once per source."""
    return build_once(
        "lineitem_orc",
        sf_dir,
        lambda path: table(spark, sf_dir, "lineitem").write.mode("overwrite").orc(path),
    )


@register(
    "scan_orc",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               {sql_dsum('l_extendedprice', 'sum_price')}
        FROM lineitem
        WHERE l_quantity >= 30
        GROUP BY l_returnflag
    """,
    doc="ORC source round-trip: lineitem written as ORC once per process, read "
    "back through spark.read.orc with a predicate that reaches the ORC reader "
    "as PushedFilters (ORC carries min/max stripe statistics like parquet row "
    "groups, so non-matching stripes are skipped). Proves the engine is not "
    "parquet-only — same declarative plan, second columnar format.",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_orc_lineitem(spark, sf_dir)
    return (
        spark.read.orc(path)
        .where(F.col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), dsum("l_extendedprice", "sum_price"))
    )


#: The reference re-fetches a 30-day overlapping window each run and
#: relies on key conflicts for idempotence (dags/etl.py:74, README.md:74).
#: Here: sink state holds everything before CUT; the incoming batch
#: overlaps it from OVERLAP_START.
_INCR_CUT = "2024-01-10"
_INCR_OVERLAP_START = "2024-01-05"


def ensure_day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write the pre-cutoff slice of ``events`` day-partitioned once per
    source — the simulated sink state of all previous daily runs."""

    def build(path: str) -> None:
        e = (
            table(spark, sf_dir, "events")
            .where(F.col("ts") < _INCR_CUT)
            .withColumn("event_date", F.to_date("ts"))
        )
        write_partitioned_parquet(e, path, "event_date")

    return build_once("events_by_day", sf_dir, build)


def pruned_existing_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The already-loaded keys a new batch must dedup against, read from
    the day-partitioned sink with a partition predicate covering ONLY the
    overlap window — PartitionFilters in the plan (asserted in
    tests/test_plan_audit.py), so at 100 TB the dedup scan lists 5 day
    directories, not years of history."""
    path = ensure_day_partitioned_events(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .where(F.col("event_date") >= F.lit(_INCR_OVERLAP_START).cast("date"))
        .select("event_id")
    )


@register(
    "sink_incremental_dedup",
    oracle=f"""
        SELECT CAST(CAST(CAST(b.ts AS TIMESTAMP) AS DATE) AS TIMESTAMP)
                   AS event_date,
               COUNT(*) AS n_new
        FROM events b
        WHERE CAST(b.ts AS TIMESTAMP) >= TIMESTAMP '{_INCR_OVERLAP_START}'
          AND NOT EXISTS (
              SELECT 1 FROM events e
              WHERE CAST(e.ts AS TIMESTAMP) >= TIMESTAMP '{_INCR_OVERLAP_START}'
                AND CAST(e.ts AS TIMESTAMP) < TIMESTAMP '{_INCR_CUT}'
                AND e.event_id = b.event_id
          )
        GROUP BY 1
    """,
    doc="Incremental idempotent append at PARTITION granularity — "
    "dedup_antijoin upgraded to the shape a daily 100 TB pipeline actually "
    "runs: sink state is a date-partitioned parquet dataset (one directory "
    "per load day); the overlapping re-fetch batch (reference R7 cross-run "
    "semantics, dags/etl.py:74 + README.md:74 — the 30-day window) anti-joins "
    "against already-loaded keys read back from ONLY the overlap-window "
    "partitions (PartitionFilters — directory pruning keeps the dedup scan "
    "O(overlap), not O(history)). Sound exactly when duplicates cannot be "
    "older than the overlap window, which is the reference's own contract. "
    "Returns per-day counts of genuinely-new rows. The oracle states the "
    "same semantics purely over the events table (the sink state is a "
    "deterministic slice of it).",
)
def sink_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = (
        table(spark, sf_dir, "events")
        .where(F.col("ts") >= _INCR_OVERLAP_START)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    new_rows = batch.join(pruned_existing_keys(spark, sf_dir), "event_id", "left_anti")
    # timestamp (not date) result column: ORACLE_PARITY.md rule 19.
    return new_rows.groupBy(
        F.to_date("ts").cast("timestamp").alias("event_date")
    ).agg(F.count("*").alias("n_new"))


_SMALL_FILES = 16
_COMPACT_FILES = 2


@register(
    "maintenance_compact",
    oracle=f"""
        SELECT CAST({_SMALL_FILES} AS INT) AS n_files_before,
               CAST({_COMPACT_FILES} AS INT) AS n_files_after,
               COUNT(*) AS n_rows,
               {sql_dsum('value', 'total_value')}
        FROM events
    """,
    doc="Small-files compaction — the table-maintenance pass every "
    "long-running ingest needs (a daily micro-batch writer accretes one-file-"
    "per-trigger; thousands of KB-files make listing and scan task overhead "
    "dominate): a 16-file events dataset is compacted to 2 files via "
    "coalesce(), which MERGES partitions map-side with no shuffle — at "
    "100 TB compaction jobs move data once through the disks, never through "
    "a hash exchange (repartition() would). The registered result re-reads "
    "the COMPACTED dataset and proves bit-level preservation (row count + "
    "decimal-exact value sum against the source oracle) plus the before/"
    "after file arithmetic. At scale, add maxRecordsPerFile to bound file "
    "size and sortWithinPartitions for row-group locality; the shape is "
    "unchanged.",
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarflare_etl_pipeline_spark.operators.maintenance import _part_files

    def build(base: str) -> None:
        small, compacted = os.path.join(base, "small"), os.path.join(base, "compacted")
        e = table(spark, sf_dir, "events")
        # the small-files state a per-trigger streaming writer accretes
        e.repartition(_SMALL_FILES).write.mode("overwrite").parquet(small)
        # the compaction pass: merge map-side, no shuffle
        spark.read.parquet(small).coalesce(_COMPACT_FILES).write.mode(
            "overwrite"
        ).parquet(compacted)

    base = build_once("compact", sf_dir, build)
    small, compacted = os.path.join(base, "small"), os.path.join(base, "compacted")
    back = spark.read.parquet(compacted)
    return back.agg(
        F.lit(len(_part_files(small))).cast("int").alias("n_files_before"),
        F.lit(len(_part_files(compacted))).cast("int").alias("n_files_after"),
        F.count("*").alias("n_rows"),
        dsum("value", "total_value"),
    )


#: Mid-day cutoff ON PURPOSE: the 2024-01-10 key exists in BOTH the
#: persisted rollup state (morning rows) and the incoming batch
#: (afternoon rows), so the merge is forced to genuinely combine partial
#: aggregates for a shared key — a day-boundary cut would degrade the
#: test into a disjoint union.
_MERGE_AGG_CUT = "2024-01-10 12:00:00"


def _daily_partials(df: DataFrame) -> DataFrame:
    """Per-(day, event_type) partial aggregates in MERGEABLE form:
    count, exact-decimal sum (stays decimal so merging loses nothing —
    the double cast happens once, after the final merge), min, max."""
    from solarflare_etl_pipeline_spark.functions.numeric import DEC

    return df.groupBy(
        F.date_trunc("day", F.col("ts")).alias("event_date"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def ensure_daily_rollup_state(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the pre-cutoff daily rollup once per source — the
    persisted aggregate state all previous daily runs accreted. One row
    per (day, event_type): at 100 TB this table is ~(days × types)
    rows — megabytes — regardless of raw volume."""
    return build_once(
        "daily_rollup",
        sf_dir,
        lambda path: _daily_partials(
            table(spark, sf_dir, "events").where(F.col("ts") < _MERGE_AGG_CUT)
        )
        .write.mode("overwrite")
        .parquet(path),
    )


@register(
    "sink_merge_aggregate",
    oracle=f"""
        SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS event_date,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value', 'sum_value')},
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Merge-into-aggregate: the change-data-capture-shaped incremental "
    "rollup a daily cadence needs (generalizing the reference's once-a-day "
    "schedule, dags/etl.py:12, the way sink_incremental_dedup generalizes "
    "its keyed idempotent load, dags/etl.py:74). Sink state is a persisted "
    "per-(day, event_type) rollup in MERGEABLE form (count / exact-decimal "
    "sum / min / max — each partial+final composable); the new batch is "
    "aggregated alone (its events scan carries the pushed ts-filter, "
    "asserted in tests/test_plan_audit.py) and union-merged with the state "
    "by one re-aggregation over rollup-sized input. The cutoff falls "
    "mid-day so one key lives in BOTH sides and the merge provably "
    "combines partials rather than concatenating disjoint keys. Cost per "
    "day is O(batch + |rollup|), never a full-history raw scan — at 100 TB "
    "the rollup is (days x types) rows, megabytes, while re-aggregating "
    "history from raw would be the full 100 TB every day. The oracle "
    "states the invariant that makes incremental maintenance sound: "
    "merged-partials == one-shot aggregate over all of history. On an "
    "ACID table format the union+re-agg step becomes MERGE INTO on the "
    "rollup key; the algebra and costs are identical.",
)
def sink_merge_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = spark.read.parquet(ensure_daily_rollup_state(spark, sf_dir))
    batch = _daily_partials(
        table(spark, sf_dir, "events").where(F.col("ts") >= _MERGE_AGG_CUT)
    )
    return (
        state.unionByName(batch)
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            "event_date",
            "event_type",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


_EVOLVE_CUT = "2024-01-15"


def ensure_evolved_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Write the events table as TWO parquet epochs with different
    schemas — epoch 1 (pre-cut) lacks the ``value`` column, epoch 2
    (post-cut) carries it — the long-lived-table reality every 100 TB
    dataset reaches (columns get added; history is never rewritten)."""

    def build(base: str) -> None:
        e = table(spark, sf_dir, "events")
        e.where(F.col("ts") < _EVOLVE_CUT).select(
            "event_id", "ts", "user_id", "event_type"
        ).write.mode("overwrite").parquet(os.path.join(base, "epoch=1"))
        e.where(F.col("ts") >= _EVOLVE_CUT).select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).write.mode("overwrite").parquet(os.path.join(base, "epoch=2"))

    return build_once("evolved", sf_dir, build)


@register(
    "scan_schema_evolution",
    oracle=f"""
        SELECT CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '{_EVOLVE_CUT}'
                    THEN 1 ELSE 2 END AS epoch,
               event_type,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  < TIMESTAMP '{_EVOLVE_CUT}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_value_nulls,
               {sql_dsum(f"CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_EVOLVE_CUT}' THEN value END", 'sum_value')}
        FROM events
        GROUP BY 1, 2
    """,
    doc="Schema-evolution read: a dataset whose early files LACK a column "
    "added later is read through one mergeSchema scan — the union schema "
    "materializes, old files surface NULL for the missing column, and the "
    "directory name becomes a typed ``epoch`` partition column. This is "
    "how a 100 TB table ages (columns accrete; rewriting history is a "
    "100 TB job you never run); the footer-merge cost is per-FILE, so at "
    "scale you pin the merged schema from the catalog instead and the "
    "scan is identical. The oracle restates per-epoch row counts, the "
    "all-NULL accounting for the pre-evolution epoch, and the "
    "decimal-exact post-evolution sum from the raw table.",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarflare_etl_pipeline_spark.functions.numeric import DEC

    base = ensure_evolved_dataset(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy(F.col("epoch").cast("int").alias("epoch"), "event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).cast("long").alias("n_value_nulls"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )


@register(
    "sink_csv",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="CSV export round-trip (the interchange format every downstream "
    "spreadsheet/legacy consumer still asks for): orders written as "
    "headered CSV with explicit timestamp formatting, schema-inferred "
    "back, and aggregated — proving type fidelity through the lossy "
    "text cycle. Money survives as exact integer cents "
    "(ROUND(price*100) — CSV prints doubles in shortest-roundtrip "
    "form, so the double itself round-trips, but the AGGREGATE detours "
    "through cents to stay association-proof like every money sum; "
    "rule 2). Writer cost mirrors sink_parquet: one narrow write per "
    "partition, no shuffle; at 100 TB CSV is ~3x parquet bytes and "
    "loses pushdown/pruning — this op exists for the export edge, not "
    "the storage layer, and the doc says so.",
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("sink_csv", sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.write.mode("overwrite").option("header", True).csv(target)
    back = spark.read.option("header", True).option("inferSchema", True).csv(target)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("total_cents"),
    )


def _morton_spread(expr: str) -> str:
    """16-bit -> even-bit spread (classic magic-number interleave step),
    spelled with `<<` / `&` so the SAME string parses in Spark SQL and
    DuckDB (masks in decimal: 0x00FF00FF, 0x0F0F0F0F, 0x33333333,
    0x55555555)."""
    x = f"({expr})"
    x = f"(({x} | ({x} << 8)) & 16711935)"
    x = f"(({x} | ({x} << 4)) & 252645135)"
    x = f"(({x} | ({x} << 2)) & 858993459)"
    x = f"(({x} | ({x} << 1)) & 1431655765)"
    return x


def _zorder_sql(intdiv: str) -> str:
    """The full z-order layout probe, parameterized only by the
    integer-division spelling (`DIV` in Spark, `//` in DuckDB)."""
    b_pk = f"((l_partkey - lo_pk) * 65535 {intdiv} GREATEST(hi_pk - lo_pk, 1))"
    b_sk = f"((l_suppkey - lo_sk) * 65535 {intdiv} GREATEST(hi_sk - lo_sk, 1))"
    zkey = f"({_morton_spread(b_pk)} | ({_morton_spread(b_sk)} << 1))"
    return f"""
        WITH ext AS (
            SELECT MIN(l_partkey) AS lo_pk, MAX(l_partkey) AS hi_pk,
                   MIN(l_suppkey) AS lo_sk, MAX(l_suppkey) AS hi_sk
            FROM lineitem
        ),
        keyed AS (
            SELECT l_partkey, l_suppkey,
                   CAST({zkey} {intdiv} 67108864 AS BIGINT) AS zbucket
            FROM lineitem, ext
        )
        SELECT zbucket,
               COUNT(*) AS n_rows,
               MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
               MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
               CAST(MAX(l_partkey) - MIN(l_partkey) AS BIGINT) AS pk_span,
               CAST(MAX(l_suppkey) - MIN(l_suppkey) AS BIGINT) AS sk_span
        FROM keyed
        GROUP BY zbucket
    """


@register(
    "maintenance_zorder",
    oracle=_zorder_sql("//"),
    doc="Z-order (Morton) clustering — multi-dimensional data skipping, "
    "the public Delta/Databricks OPTIMIZE ZORDER technique: interleave "
    "the bits of two range-bucketed dimensions so that sorting by ONE "
    "key co-locates rows that are close in BOTH, giving parquet "
    "min/max footer pruning on either predicate column. The registered "
    "result is the layout PROOF, not a side effect: rows are assigned "
    "to 64 z-buckets (the files a repartitionByRange(zkey) write would "
    "produce) and each bucket reports its min/max/span per dimension — "
    "z-ordered buckets have spans ~sqrt(bucket_share) of the domain in "
    "EACH dim, where a single-column sort gives perfect spans in one "
    "dim and full-domain spans in the other. All arithmetic is BIGINT "
    "bit twiddling (`<<`/`&`/`|`, shared verbatim with the oracle), "
    "hash-exact. Plan: tiny extrema agg broadcast back, narrow map for "
    "the zkey, one 64-group aggregate — at 100 TB the real write is "
    "repartitionByRange + sortWithinPartitions on zkey (one range "
    "shuffle, the same cost as any global sort), after which every "
    "engine that reads footers prunes on both dims; see "
    "tests/test_zorder_layout.py for the parquet-footer proof.",
)
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ext = l.agg(
        F.min("l_partkey").alias("lo_pk"),
        F.max("l_partkey").alias("hi_pk"),
        F.min("l_suppkey").alias("lo_sk"),
        F.max("l_suppkey").alias("hi_sk"),
    ).withColumn("one", F.lit(1))
    b_pk = "((l_partkey - lo_pk) * 65535 DIV GREATEST(hi_pk - lo_pk, 1))"
    b_sk = "((l_suppkey - lo_sk) * 65535 DIV GREATEST(hi_sk - lo_sk, 1))"
    zkey = f"({_morton_spread(b_pk)} | ({_morton_spread(b_sk)} << 1))"
    keyed = (
        l.withColumn("one", F.lit(1))
        .join(F.broadcast(ext), "one")
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr(f"CAST({zkey} DIV 67108864 AS BIGINT)").alias("zbucket"),
        )
    )
    return keyed.groupBy("zbucket").agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_partkey").alias("max_pk"),
        F.min("l_suppkey").alias("min_sk"),
        F.max("l_suppkey").alias("max_sk"),
        (F.max("l_partkey") - F.min("l_partkey")).cast("long").alias("pk_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).cast("long").alias("sk_span"),
    )


#: Portable 10%-of-keys "latest ingest batch" selectors. Hash-based ON
#: PURPOSE (not a date cutoff): real pipelines receive LATE-ARRIVING
#: rows on both sides of a join, so the maintenance algebra must hold
#: for arbitrary delta membership — a date cut would (here) leave the
#: new-orders x old-shipments quadrant provably empty (TPC-H ships
#: after ordering) and silently skip one of the three delta terms.
_IVM_ORD_DELTA = (
    "conv(substring(md5(concat('O:', CAST(o_orderkey AS STRING))), 1, 4), 16, 10)"
    " % 10 = 9"
)
_IVM_LI_DELTA = (
    "conv(substring(md5(concat('L:', CAST(l_orderkey AS STRING), '-', "
    "CAST(l_linenumber AS STRING))), 1, 4), 16, 10) % 10 = 9"
)


def _ivm_partials(joined: DataFrame) -> DataFrame:
    """Per-priority partial aggregates of a (sub)join in MERGEABLE form:
    count + exact-decimal revenue (decimal survives the merge; the
    double cast happens once after the final re-aggregation)."""
    from solarflare_etl_pipeline_spark.functions.numeric import price_dec, rate_dec

    revenue = price_dec("l_extendedprice") * (1 - rate_dec("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(revenue).alias("revenue_dec"),
    )


def ensure_ivm_join_state(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the old-orders x old-lineitems join aggregate once
    per source — the state all previous maintenance runs accreted. One
    row per priority: constant-sized at any history."""

    def build(path: str) -> None:
        o_old = table(spark, sf_dir, "orders").where(f"NOT ({_IVM_ORD_DELTA})")
        l_old = table(spark, sf_dir, "lineitem").where(f"NOT ({_IVM_LI_DELTA})")
        state = _ivm_partials(
            o_old.join(l_old, o_old.o_orderkey == l_old.l_orderkey)
        )
        state.write.mode("overwrite").parquet(path)

    return build_once("ivm_join", sf_dir, build)


@register(
    "sink_incremental_join",
    oracle=f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_items,
               {sql_dsum_exact(f"{sql_price('l_extendedprice')} * (1 - {sql_rate('l_discount')})", 'revenue')}
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    doc="Incremental view maintenance for a JOIN-aggregate — the "
    "textbook delta algebra (O+dO)x(L+dL) = OxL + dOxL + OxdL + dOxdL "
    "realized as a Spark plan: the OxL term is persisted aggregate "
    "state (per-priority count + exact-decimal revenue, mergeable "
    "form), the three delta terms are computed fresh against a "
    "hash-selected 10% 'latest ingest batch' ON EACH SIDE, and one "
    "rollup-sized union+re-aggregation produces the maintained view. "
    "The oracle states the soundness invariant: merged deltas == "
    "one-shot join-aggregate over all of history. Deltas are hash-"
    "membership (late-arriving rows), not a date cut — a cut would "
    "leave the new-orders x old-shipments quadrant empty here and "
    "untested. Cost per run is O(|dO| x fanout + |dL| + state), never "
    "a full OxL recompute; at 100 TB the two delta-vs-history joins "
    "are the co-located bucketed-join shape (history bucketed by "
    "orderkey, see join_bucketed) and the state is |priorities| rows. "
    "On an ACID format the final re-agg becomes MERGE INTO on the "
    "group key; the algebra and costs are identical.",
)
def sink_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarflare_etl_pipeline_spark.functions.numeric import dsum_exact

    state = spark.read.parquet(ensure_ivm_join_state(spark, sf_dir))
    o_old = table(spark, sf_dir, "orders").where(f"NOT ({_IVM_ORD_DELTA})")
    o_new = table(spark, sf_dir, "orders").where(_IVM_ORD_DELTA)
    l_old = table(spark, sf_dir, "lineitem").where(f"NOT ({_IVM_LI_DELTA})")
    l_new = table(spark, sf_dir, "lineitem").where(_IVM_LI_DELTA)

    deltas = [
        _ivm_partials(o_new.join(l_old, o_new.o_orderkey == l_old.l_orderkey)),
        _ivm_partials(o_old.join(l_new, o_old.o_orderkey == l_new.l_orderkey)),
        _ivm_partials(o_new.join(l_new, o_new.o_orderkey == l_new.l_orderkey)),
    ]
    merged = state
    for d in deltas:
        merged = merged.unionByName(d)
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.sum("n_items").alias("n_items"),
            dsum_exact(F.col("revenue_dec"), "revenue"),
        )
        .select("o_orderpriority", "n_items", "revenue")
    )


@register(
    "sink_dynamic_overwrite",
    oracle="""
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1997
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_restated
        FROM orders
        GROUP BY 1
    """,
    doc="Dynamic partition overwrite (the restatement pattern): the full "
    "year-partitioned dataset is written once, then ONE fiscal year is "
    "rewritten via partitionOverwriteMode=dynamic — only partitions "
    "present in the incoming frame are replaced; every other year's "
    "files are untouched (static overwrite mode would TRUNCATE the "
    "whole table — the classic data-loss footgun this mode exists to "
    "fix). The restated rows carry o_orderstatus='R'; reading the tree "
    "back shows per-year counts unchanged and exactly the 1997 rows "
    "restated, which the oracle predicts from the source table alone. "
    "At 100 TB this is how daily re-runs land: the day's output "
    "overwrites its own date partitions idempotently, no "
    "read-modify-write of the table, no distributed delete. Writer-"
    "level option (not session conf) keeps the mode scoped to this "
    "one write.",
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("sink_dynover", sf_dir)
    o = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    write_partitioned_parquet(o, target, "order_year")
    restated = o.where(F.col("order_year") == 1997).withColumn(
        "o_orderstatus", F.lit("R")
    )
    (
        restated.repartition(F.col("order_year"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("order_year")
        .parquet(target)
    )
    back = spark.read.parquet(target)
    return back.groupBy("order_year").agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("o_orderstatus") == "R").cast("int"))
        .cast("long")
        .alias("n_restated"),
    )


#: Columns profiled by maintenance_stats_collect, with their SQL text
#: rendering (numerics via CAST to VARCHAR — identical in both engines
#: for integers; doubles are excluded from min/max strings).
_STATS_COLS = ("doc_id", "text", "lang", "source", "n_chars")


@register(
    "maintenance_stats_collect",
    oracle="\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
               MIN(CAST({c} AS VARCHAR)) AS min_str,
               MAX(CAST({c} AS VARCHAR)) AS max_str,
               ROUND(CAST(SUM(CAST(LENGTH(CAST({c} AS VARCHAR)) AS HUGEINT))
                          AS DOUBLE) / COUNT({c}), 9) AS avg_len
        FROM documents
        """
        for c in _STATS_COLS
    ),
    doc="ANALYZE TABLE-style statistics collection over every column of "
    "documents — the maintenance pass that feeds any cost-based "
    "planner and data-quality dashboard (Spark's own ANALYZE .. "
    "COMPUTE STATISTICS persists to the catalog; this emits the same "
    "numbers as a queryable result): per column, row/null counts, "
    "exact NDV, lexicographic min/max of the string rendering, and "
    "exact-ratio mean rendered length. One pass per column over a "
    "columnar scan that prunes to just that column; at 100 TB swap "
    "exact NDV for approx_count_distinct per the agg_hll_portable "
    "register story and the pass stays one scan per column group. "
    "Long-format output so new columns never change the schema.",
)
def maintenance_stats_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    out = None
    for c in _STATS_COLS:
        s = F.col(c).cast("string")
        piece = d.agg(
            F.lit(c).alias("column_name"),
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") - F.count(c)).cast("long").alias("n_nulls"),
            F.countDistinct(c).cast("long").alias("ndv"),
            F.min(s).alias("min_str"),
            F.max(s).alias("max_str"),
            F.round(
                F.expr(
                    f"CAST(SUM(CAST(LENGTH(CAST({c} AS STRING)) AS DECIMAL(38,0)))"
                    f" AS DOUBLE) / COUNT({c})"
                ),
                9,
            ).alias("avg_len"),
        )
        out = piece if out is None else out.unionAll(piece)
    return out


@register(
    "maintenance_footer_stats",
    # The oracle recomputes the same extremes from the DATA — the op is
    # only correct if the parquet footer's row-group statistics agree
    # with a full scan, which is exactly the property that makes
    # min/max-based scan skipping trustworthy.
    oracle="""
        SELECT 'o_orderkey' AS col_name,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_long,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_long
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(MIN(o_custkey) AS BIGINT),
               CAST(MAX(o_custkey) AS BIGINT)
        FROM orders
        ORDER BY col_name
    """,
    doc="Parquet FOOTER statistics audit: read the row-group min/max "
    "statistics straight out of the file metadata (pyarrow footer "
    "parse — zero data pages touched) and emit the file-level "
    "extremes; the oracle recomputes them from the data, certifying "
    "that footer stats match reality — the property every min/max "
    "scan-skipping decision (predicate pushdown, z-order layout "
    "evaluation, join-range estimation) silently relies on, and the "
    "first thing to audit when a writer is suspected of emitting "
    "wrong stats (the classic int96/NaN/truncated-string footer "
    "bugs). Plan: the footer read is driver-side METADATA work — "
    "O(row groups), no executor scan at all; at 100 TB this audits "
    "a fleet of files by listing footers, never reading pages. "
    "Companion to maintenance_stats_collect (engine-side ANALYZE) "
    "and scan_with_metadata (_metadata virtual column).",
)
def maintenance_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import pyarrow.parquet as _pq

    meta = _pq.ParquetFile(_os.path.join(sf_dir, "orders.parquet")).metadata
    idx = {
        meta.schema.column(i).name: i for i in range(meta.num_columns)
    }
    rows = []
    for col in ("o_orderkey", "o_custkey"):
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                raise ValueError(f"footer lacks min/max for {col}")
            mins.append(st.min)
            maxs.append(st.max)
        rows.append((col, int(min(mins)), int(max(maxs))))
    return spark.createDataFrame(
        rows, "col_name string, min_long bigint, max_long bigint"
    ).orderBy("col_name")


@register(
    "sink_json_lines",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="NDJSON (json-lines) export round-trip — the missing sibling in "
    "the sink family (parquet/csv/avro/jdbc are registered): orders "
    "written as newline-delimited JSON, schema-inferred back, and "
    "aggregated, certifying type fidelity through the text cycle the "
    "same way sink_csv does. JSON doubles print in shortest-roundtrip "
    "form so the value itself survives; the AGGREGATE still detours "
    "through exact integer cents (rule 2) because association order "
    "never survives anything. JSON-lines is the streaming/log-"
    "shipping interchange: line-splittable (parallel read at any "
    "scale), append-friendly, schema-on-read. Writer is one narrow "
    "pass, no shuffle; at 100 TB it costs ~4x parquet bytes and "
    "loses pushdown — export edge only, like sink_csv.",
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("sink_jsonl", sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.write.mode("overwrite").json(target)
    # pin the read schema (production discipline — inference re-scans
    # the data and collapses to zero columns on an empty feed)
    back = spark.read.schema(
        "o_orderkey LONG, o_orderpriority STRING, o_totalprice DOUBLE"
    ).json(target)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


@register(
    "sink_orc",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS price_cents,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="ORC export round-trip — the second columnar container after "
    "parquet (Hive/Trino shops standardize on it; an engine claiming "
    "the reference's source/sink surface must write AND re-read it): "
    "lineitem written as snappy ORC, read back, and aggregated to the "
    "TPC-H q1 grouping, proving schema + value fidelity through the "
    "write path (scan_orc already certifies the read path on "
    "driver-generated files; this closes the writer half). Money "
    "detours through exact integer cents (rule 2) so the hash is "
    "association-proof. Writer plan: one narrow columnar write per "
    "partition, no shuffle; ORC keeps predicate pushdown and column "
    "pruning at 100 TB exactly like parquet (both sides of the "
    "read-back aggregate prune to 4 columns).",
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = store_path("sink_orc", sf_dir)
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )
    li.write.mode("overwrite").option("compression", "snappy").orc(target)
    back = spark.read.orc(target)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("price_cents"),
            F.expr("CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias(
                "sum_qty"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )

"""SparkSession factory.

Local-mode settings tuned for the test harness (``local[N]``, one JVM)
while keeping every knob that matters at cluster scale explicit: AQE on
(runtime join re-planning + skew handling), UTC session timezone (oracle
parity), Arrow for any Python exchange, shuffle partitions sized to the
parallelism rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def get_spark(app_name: str = "solarflare-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At cluster scale the same config block applies unchanged except
    ``master`` and memory sizing; AQE + adaptive coalescing are the
    load-bearing settings (they re-plan joins to broadcast and split
    skewed partitions at runtime, which is what keeps the 100 TB plans
    stable without hand-tuning per query).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture regimes have varied across driver rounds: events.parquet
        # has shipped both as TIMESTAMP(NANOS) (rejected by the vectorized
        # reader unless read as int64 ns) and as timestamp[us] (reads as
        # TIMESTAMP_NTZ natively). The conf is harmless in the latter case;
        # catalog.table() handles BOTH by converting only when the column
        # actually arrives as bigint. Set at construction so per-query code
        # never flips session conf mid-plan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source filter pushdown (sources/python_source.py);
        # default-off in Spark 4, required when a reader implements
        # pushFilters. Also ensured defensively for foreign sessions.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # \r-chunked stage-progress bars interleave with stdout under
        # captured output (they clipped the BENCH_r06 JSON line); the
        # bench/driver contract needs a clean final stdout line.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run a query's independent pieces of Spark work on one thread each
    and return their results in submission order.

    At fixture scale a query's cost is scheduler round-trips, not data,
    so overlapping the jobs of independent sub-plans (distinct inputs,
    distinct outputs) lets one piece's tail back-fill the executors the
    others leave idle.

    Each thunk is wrapped with ``inheritable_thread_target`` here, in the
    calling thread, so the jobs it launches carry the caller's local
    properties (job group, description, scheduler pool) and session
    tags: per-query job ledgers built from job groups see every job.
    Each thunk gets its own copy of the properties, because Spark records
    a running SQL execution's id in them.

    The thunks share the session, so a thunk must not mutate
    session-global state: no ``spark.conf.set`` (in particular no call to
    ``streaming.event_windows.run_available_now``, which saves and
    restores ``spark.sql.shuffle.partitions``), no catalog writes, no
    temp views. Every thunk runs to completion; the first failure in
    submission order is then raised.
    """
    wrapped = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(wrapped)) as pool:
        futures = [pool.submit(t) for t in wrapped]
    return [f.result() for f in futures]

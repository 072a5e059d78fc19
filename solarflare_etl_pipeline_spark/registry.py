"""Central query registry — single source of truth for the driver contract.

Every operator from SURVEY.md §2.2 registers here as a ``QuerySpec``:
a name, a PySpark callable ``(spark, sf_dir) -> DataFrame``, and (when
SQL-expressible) the equivalent ANSI SQL the DuckDB oracle runs on the
same parquet tables.  ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry.

Oracle-parity rules observed by every registered query:
  * every computed/aggregate column is aliased identically in the Spark
    code and the SQL text (the driver hashes values under sorted column
    names);
  * double-typed aggregates route through exact decimal accumulation
    and cast back to double (see ``functions.numeric``) so the hash is
    invariant to Spark-vs-DuckDB summation order;
  * results must be deterministic sets — ranking windows always break
    ties on a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

#: Driver-window order. The driver's correctness harness checks the
#: first 50 entries of ``queries()`` in iteration order, so ``load_all``
#: puts the 44 declared SURVEY.md §2.2 operators first, then the six
#: oracle-backed ``WINDOW_EXTRAS``, then every other query in import
#: order. ``tests/test_plan_audit.py::test_driver_window_ordering`` pins
#: this.
DECLARED_INVENTORY: tuple[str, ...] = (
    "scan_parquet",
    "ingest_json",
    "project_rename",
    "filter_pred",
    "dedup_key",
    "dedup_antijoin",
    "join_inner",
    "join_left",
    "join_full",
    "join_semi",
    "join_anti",
    "join_broadcast",
    "join_range",
    "join_asof",
    "agg_hash",
    "agg_distinct",
    "agg_rollup",
    "agg_cube",
    "win_rank",
    "win_analytic",
    "sort_limit",
    "topk_per_group",
    "set_union",
    "set_intersect",
    "set_except",
    "fn_string",
    "fn_date",
    "fn_math",
    "fn_json",
    "fn_array",
    "fn_map",
    "udf_scalar",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_watermark_dedup",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_similarity_topk",
    "llm_text_stats",
    "sink_parquet",
    "sink_jdbc",
    "udaf_grouped",
    "udtf_grouped_state",
)

#: Slots 45-50 of the driver window; each is oracle-backed.
WINDOW_EXTRAS: tuple[str, ...] = (
    "graph_cc_portable",
    "llm_pack_efficiency_curve",
    "ts_matrix_profile",
    "agg_somers_d",
    "fn_variant_extract",
    "funnel_time_to_convert",
)

DRIVER_WINDOW: tuple[str, ...] = DECLARED_INVENTORY + WINDOW_EXTRAS


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a ``(spark, sf_dir) -> DataFrame`` callable."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: fills REGISTRY)."""
    # Imports are deferred so `import solarflare_etl_pipeline_spark` stays
    # cheap; this function is the one place that pulls in the full surface.
    from solarflare_etl_pipeline_spark.operators import (  # noqa: F401
        core,
        joins,
        aggregates,
        windows,
        setops,
        dedup,
        asof,
        similarity,
        text,
        multimodal,
        udaf,
        subqueries,
        nulls,
        reshape,
        analytics,
        merge,
        timeseries,
        recursion,
        tpch,
        maintenance,
    )
    from solarflare_etl_pipeline_spark import sinks  # noqa: F401
    from solarflare_etl_pipeline_spark.functions import scalar  # noqa: F401
    from solarflare_etl_pipeline_spark.plans import bucketing  # noqa: F401
    from solarflare_etl_pipeline_spark.sources import (  # noqa: F401
        avro_ingest,
        csv_ingest,
        http_ingest,
        jdbc_ingest,
        json_ingest,
        python_source,
        text_ingest,
        xml_ingest,
    )
    from solarflare_etl_pipeline_spark.streaming import (  # noqa: F401
        event_windows,
        foreach_batch,
        stateful,
    )

    # Driver-window ordering: the 44 declared §2.2 keys + 6 headline extras
    # first (a missing key here is a registration drift bug — fail loud),
    # then everything else in import order.
    ordered = {name: REGISTRY[name] for name in DRIVER_WINDOW}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered

"""The benchmark's workloads. README.md says why each query is in its mix."""

from __future__ import annotations

#: The registry queries that launch the most Spark jobs at sf0.01, plus
#: ``stream_session_live`` for the ``streaming`` layer.
JOB_HEAVY = (
    "hierarchy_rollup", "agg_rfm_segments", "graph_hits", "llm_corpus_filter",
    "llm_rank_fusion_rrf", "graph_cc_portable", "llm_bpe_train_portable",
    "llm_dedup_cluster", "llm_pack_ffd_incremental", "maintenance_store_compact",
    "flagship_incremental_daily", "stream_session_live",
)

#: One or two queries per operator kernel module, run at sf0.1 where their
#: time is mostly in the action phase: ``aggregates``, ``joins``, ``asof``,
#: ``windows``, ``dedup`` and ``tpch``.
KERNELS = (
    "agg_hash", "join_multiway", "join_broadcast", "join_asof", "win_analytic",
    "topk_per_group", "dedup_key", "tpch_q3_priority", "tpch_q9_profit",
)

#: query -> the scale factor of the fixture it reads
QUERY_MIX = {**{q: 0.01 for q in JOB_HEAVY}, **{q: 0.1 for q in KERNELS}}

#: The persisted ``state`` stores the job-heavy queries read, built in
#: set-up from the sf0.01 fixture.
STORES = (
    "solarflare_etl_pipeline_spark.operators.analytics.ensure_cc_label_store",
    "solarflare_etl_pipeline_spark.operators.text.ensure_ffd_run_store",
    "solarflare_etl_pipeline_spark.operators.similarity.ensure_signature_store",
    "solarflare_etl_pipeline_spark.operators.similarity.ensure_ivf_index_store",
)

#: ``tail_pct``: the percentile reported as ``latency_tail_s`` (README.md
#: says how each was chosen from the operation count of one run).
WORKLOADS = {
    "flare_daily_append": {
        "kind": "flares", "warmup_loads": 20, "round_loads": 5, "tail_pct": 65,
    },
    "query_mix": {
        "kind": "mix", "queries": QUERY_MIX, "stores": STORES, "store_sf": 0.01,
        "warmup_passes": 2, "tail_pct": 90,
    },
}

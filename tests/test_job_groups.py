"""Job attribution: every Spark job a query launches, including the jobs
its independent sub-plans run on pool threads, belongs to the job group
the caller set. Per-query job, stage and task ledgers are rolled up by
job group, so a job that escapes the group is cost charged to nobody."""

from __future__ import annotations

import pytest

from solarflare_etl_pipeline_spark.registry import load_all

SPECS = load_all()


@pytest.mark.parametrize(
    "name",
    [
        "maintenance_store_compact",
        "maintenance_store_ttl",
        "flagship_incremental_daily",
    ],
)
def test_pooled_jobs_keep_the_callers_job_group(spark, sf_dir, name):
    """Job ids are handed out in submission order, so every job between
    a marker job run just before the query and one run just after it
    was launched by the query (or its pool threads)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"job-group-{name}"

    def marker() -> int:
        sc.parallelize([0], 1).count()
        return max(tracker.getJobIdsForGroup(group))

    sc.setJobGroup(group, name)
    try:
        first = marker()
        SPECS[name].spark(spark, sf_dir).collect()
        last = marker()
    finally:
        sc._jsc.clearJobGroup()
    in_group = set(tracker.getJobIdsForGroup(group))
    between = range(first + 1, last)
    assert len(between) > 0, f"{name} launched no job"
    outside = [j for j in between if j not in in_group]
    assert outside == [], (
        f"{len(outside)} of {len(between)} {name} jobs ran outside its job group"
    )

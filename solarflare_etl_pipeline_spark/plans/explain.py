"""Plan-inspection helpers: the feedback loop for scale tuning.

``.explain("formatted")`` is how every operator gets audited after
correctness is green (build mandate): filters must appear in
``PushedFilters``, projections in ``ReadSchema``, dim joins as
``BroadcastHashJoin``, and Python must not appear in the hot path.
``tests/test_semantics.py`` asserts the load-bearing cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed physical plan as a string (post-AQE re-planning may
    differ at runtime; this is the initial physical plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_report(df: DataFrame) -> dict[str, bool | int]:
    """Quick audit flags for a plan: what a scale review looks for."""
    return plan_flags(physical_plan(df))


def plan_flags(plan: str) -> dict[str, bool | int]:
    """plan_report over an ALREADY-RENDERED plan string — lets callers
    that audit the same query several ways (tests/test_plan_audit.py's
    three registry-wide gates) build the DataFrame and render the plan
    ONCE instead of re-running every eager localCheckpoint per gate."""
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
        "shuffles": plan.count("Exchange"),
        "has_pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "python_stages": sum(
            plan.count(marker)
            for marker in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "ArrowAggregatePython",
                "AggregateInPandas",
                "MapInArrow",
                "FlatMapGroupsInArrow",
            )
        ),
        # NOTE: under AQE the pre-execution plan (isFinalPlan=false) hides
        # WholeStageCodegen spans — False here is inconclusive, True is real
        "wholestage_codegen": "WholeStageCodegen" in plan,
    }


def single_partition_ordered_stages(plan: str) -> list[str]:
    """Occurrences of an ``Exchange SinglePartition`` feeding a
    ``Sort`` or ``Window`` — the classic 100 TB killer when the
    exchanged input is data-scale (VERDICT r6 #2, r10 #1): every row
    funnels through ONE task for the ordered stage. Returns the parent
    node header for each hit so the caller can assert/whitelist.

    Bounded inputs (distinct-value grids, calendar grids, the
    |partitions|-row offset tables inside plans/rank.py, k-row
    post-aggregate summaries) legitimately use this shape — boundedness
    is a semantic property the plan text cannot carry, so callers keep
    an explicit whitelist with per-key justification.

    Known blind spot: ``localCheckpoint()`` truncates lineage, so a
    single-partition window executed while materializing a checkpoint
    does not appear in the final plan. Ops that checkpoint mid-chain
    need their pre-checkpoint shape pinned separately
    (tests/test_rank_plans.py).
    """
    import re

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " +-:":
            i += 1
        return i

    def node(line: str) -> str:
        return re.sub(r"^\*\(\d+\) ", "", line[depth(line):])

    # Pass-through wrapper nodes that can sit between an Exchange and
    # the Sort/Window that consumes it (AQE shuffle readers, codegen
    # input adapters). The walk skips these and keeps climbing so a
    # wrapped single-partition Sort/Window is still flagged
    # (ADVICE r11: the nearest-ancestor-only walk silently missed
    # AQEShuffleRead-wrapped shapes; the "Sort\n" startswith member
    # was dead — lines are already newline-split).
    wrappers = (
        "AQEShuffleRead",
        "ShuffleQueryStage",
        "CustomShuffleReader",
        "InputAdapter",
        "ReusedExchange",
        "TableCacheQueryStage",
        "InMemoryTableScan",
    )

    lines = plan.splitlines()
    hits: list[str] = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = depth(line)
        for j in range(i - 1, -1, -1):
            if depth(lines[j]) < d:
                parent = node(lines[j])
                if parent.startswith(wrappers):
                    d = depth(lines[j])
                    continue
                if parent.startswith(("Sort ", "Window")):
                    hits.append(parent.split("[")[0].strip())
                break
    return hits


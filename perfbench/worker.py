"""The measured process: one Spark session running one closed-loop workload.

``run.py`` starts this file with the environment of one run (temp dirs,
``SPARK_GRAFT_CPUS``, and for a traced run the event-log switches in
``PYSPARK_SUBMIT_ARGS``) and the run's plan as a JSON file. It writes
``worker.json`` beside the plan: every timed operation, the spans, the
check payloads and the peak memory of this process and its JVM. It does no
output checking of its own beyond the flare load model; DuckDB checks run
in ``run.py`` after this process and its JVM have ended.

Operations run one at a time, so every Spark job, stage and task in the
event log belongs to the operation whose span holds its submission time.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import flares  # noqa: E402


class Spans:
    """In-memory span list, written out with the result when the run ends."""

    def __init__(self, detail: bool):
        self.detail = detail
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, detail_only: bool = False, **attrs):
        if detail_only and not self.detail:
            yield None
            return
        rec = {"name": name, "start": time.time(), **attrs}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.items.append(rec)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _files(path: str) -> list[str]:
    try:
        return [f for f in os.listdir(path) if f.endswith(".parquet")]
    except FileNotFoundError:
        return []


def run_mix(spark, plan: dict, spans: Spans, out: dict) -> None:
    from solarflare_etl_pipeline_spark.registry import load_all

    spec = plan["spec"]
    reg = load_all()
    names = list(spec["queries"])
    sf_dir = {q: plan["sf_dirs"][str(sf)] for q, sf in spec["queries"].items()}
    out["oracle_sql"] = {q: reg[q].oracle for q in names}
    if spec.get("stores"):
        import importlib

        for qual in spec["stores"]:
            mod, fn = qual.rsplit(".", 1)
            builder = getattr(importlib.import_module(mod), fn)
            with spans.span("state.store_build", store=fn):
                builder(spark, plan["sf_dirs"][str(spec["store_sf"])])
    # Warm-up: every query once, its result written to Parquet for the
    # DuckDB check; then more untimed passes of the timed shape.
    for q in names:
        with spans.span("warmup", query=q):
            reg[q].spark(spark, sf_dir[q]).write.mode("overwrite").parquet(
                os.path.join(plan["results_dir"], q)
            )
    for _ in range(spec["warmup_passes"] - 1):
        for q in names:
            with spans.span("warmup", query=q):
                reg[q].spark(spark, sf_dir[q]).write.format("noop").mode("overwrite").save()
    ops, n_pass = [], 0
    t_first = time.time()
    while True:
        for q in names:
            with spans.span("op", query=q, pass_index=n_pass) as op:
                with spans.span("operators.build", True, query=q):
                    df = reg[q].spark(spark, sf_dir[q])
                with spans.span("operators.action", True, query=q):
                    df.write.format("noop").mode("overwrite").save()
            ops.append([q, op["start"], op["end"], n_pass])
        n_pass += 1
        if time.time() - t_first >= plan["seconds"]:
            break
    out.update(ops=ops, passes=n_pass, t_first=t_first)


def run_flares(spark, plan: dict, spans: Spans, out: dict) -> None:
    from solarflare_etl_pipeline_spark.sources.json_ingest import load_flares

    spec = plan["spec"]
    work = plan["work_dir"]
    target = os.path.join(work, "flare_table")
    feed, model = flares.FlareFeed(plan["seed"]), flares.LoadModel()
    day = 0

    def fetch(d: int) -> tuple[str, list[dict]]:
        # one compact JSON array per fetch, as the DONKI API returns it
        path = os.path.join(work, f"fetch_{d % 2}.json")
        recs = feed.fetch(d)
        with open(path, "w") as f:
            json.dump(recs, f)
        return path, recs

    for _ in range(spec["warmup_loads"]):
        path, recs = fetch(day)
        with spans.span("warmup", day=day):
            load_flares(spark, path, target)
        model.load(day, recs)
        day += 1
    ops, n_pass, fetched = [], 0, []
    files_before = len(_files(target))
    t_first = time.time()
    while True:
        for _ in range(spec["round_loads"]):
            path, recs = fetch(day)
            with spans.span("op", query="json_ingest.load_flares", pass_index=n_pass, day=day) as op:
                load_flares(spark, path, target)
            model.load(day, recs)
            ops.append(["load_flares", op["start"], op["end"], n_pass])
            fetched.append(len(recs))
            day += 1
        n_pass += 1
        if time.time() - t_first >= plan["seconds"]:
            break
    files_after = _files(target)
    # Untimed checks: replaying the last fetch adds nothing, and the
    # table equals the load model row for row.
    before = spark.read.parquet(target).count()
    load_flares(spark, path, target)
    after = spark.read.parquet(target).count()
    rows = [tuple(r) for r in spark.read.parquet(target).select(*flares.COLUMNS).collect()]
    bad = model.check(rows)
    if after != before:
        bad.add(day - 1)
    first_timed = spec["warmup_loads"]
    out.update(
        ops=ops, passes=n_pass, t_first=t_first, fetched=fetched,
        bad_timed_ops=sorted(i - first_timed for i in bad if i >= first_timed),
        bad_untimed=sorted(i for i in bad if i < first_timed),
        replay_added=after - before, table_rows=len(rows),
        files_per_load=(len(files_after) - files_before) / len(ops),
        table_files=len(files_after),
        table_bytes=sum(os.path.getsize(os.path.join(target, f)) for f in files_after),
    )


def main(plan_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    spans = Spans(detail=bool(plan["trace"]))
    out: dict = {}
    with spans.span("session.get_spark"):
        from solarflare_etl_pipeline_spark.session import get_spark

        spark = get_spark("perfbench")
    proc = spark.sparkContext._gateway.proc
    try:
        if plan["spec"]["kind"] == "flares":
            run_flares(spark, plan, spans, out)
        else:
            run_mix(spark, plan, spans, out)
        out["rss_kb"] = {"python": _vm_hwm_kb(os.getpid()), "jvm": _vm_hwm_kb(proc.pid)}
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait so no process outlives the run
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    out["spans"] = spans.items
    with open(os.path.join(os.path.dirname(plan_path), "worker.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])

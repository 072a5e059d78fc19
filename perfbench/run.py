"""Benchmark launcher: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run gets its own directory under
``.perfbench/runs/`` (working dir, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the
generated inputs, and with ``--trace 1`` Spark's event log), deleted at
the end. The measured process is ``worker.py``; this launcher generates
the inputs, starts it, checks its outputs (flare load model, DuckDB
oracle), and prints one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every figure of
the run, per operation and per query, goes to a side file under
``.perfbench/results/<workload>/`` that no later run overwrites.

    python3 perfbench/run.py --refresh-oracle   # recompute cached DuckDB answers
"""

from __future__ import annotations

# taken before any import, so setup_s counts from process start
T_LAUNCH = __import__("time").time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import workloads  # noqa: E402

DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "state.store_build_s": "s",
        "operators.build_s": "s", "operators.action_s": "s",
        "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count", "spark.no_task_s_per_op": "s",
        "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
        "catalog.scan_bytes": "B", "catalog.scan_records": "rows",
        "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "spill.bytes": "B",
        "executor.peak_exec_memory_mb": "MB", "process.peak_rss_mb": "MB",
        "json_ingest.records_fetched_per_load": "count", "json_ingest.new_row_ratio": "ratio",
        "json_ingest.history_rows_scanned_per_load": "rows",
        "json_ingest.files_per_load": "count", "json_ingest.table_files": "count",
        "json_ingest.table_bytes_per_row": "B",
    }
    # per-query build and action times go to the side file only, which
    # keeps the printed line near 3 KB
    units.update({f"q.{q}.jobs": "count" for q in workloads.QUERY_MIX})
    units["trace.overhead_s"] = "s"
    return units


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus() -> int:
    return max(1, min(2, len(os.sched_getaffinity(0))))


def run_worker(plan: dict, run_dir: str) -> dict:
    env = dict(os.environ)
    env.update(
        TMPDIR=plan["tmp_dir"], SPARK_LOCAL_DIRS=plan["local_dir"],
        SPARK_GRAFT_CPUS=str(cpus()), PYTHONPATH=ROOT, PYTHONHASHSEED="0",
    )
    # The program's own heap settings stay as they are. The JVM's own temp
    # files (native libraries, artifacts) stay in the run directory, and it
    # writes no perf-data file to the system temp dir.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={plan['tmp_dir']}"
    submit = [f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)}"]
    # the short-lived JVM of spark-submit's command builder, likewise
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={plan['tmp_dir']}"
    if plan["trace"]:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf {shlex.quote('spark.eventLog.dir=file://' + plan['event_dir'])}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            cwd=plan["work_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - T_LAUNCH)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        except BaseException:
            # interrupted: take the worker and its JVM down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"worker exited with {rc}:\n{tail}")
    with open(os.path.join(run_dir, "worker.json")) as f:
        return json.load(f)


def pct(values: list[float], p: int) -> float:
    """Inclusive-method percentile ``p`` (1..99) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def end_to_end(w: dict, spec: dict) -> dict:
    ops = w["ops"]
    lat = [e - s for _, s, e, _ in ops]
    return {
        "setup_s": w["t_first"] - T_LAUNCH,
        "wall_s": (max(e for _, _, e, _ in ops) - min(s for _, s, _, _ in ops)) / w["passes"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": pct(lat, spec["tail_pct"]),
    }


def per_layer(w: dict, spec: dict, event_dir: str, wall_s: float, args) -> tuple[dict, list]:
    """Per-layer metrics, and the per-operation event-log rollup."""
    import eventlog

    jobs, stages, tasks = eventlog.read(event_dir)
    recs = eventlog.per_op(w["ops"], jobs, stages, tasks)
    spans = w["spans"]
    n_ops, passes = len(recs), w["passes"]

    def span_sum(name: str, pred=lambda s: True) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name and pred(s))

    first = w["t_first"]
    m = {k: 0.0 for k in per_layer_units()}
    m["session.get_spark_s"] = span_sum("session.get_spark")
    m["state.store_build_s"] = span_sum("state.store_build")
    m["operators.build_s"] = span_sum("operators.build", lambda s: s["start"] >= first) / passes
    m["operators.action_s"] = span_sum("operators.action", lambda s: s["start"] >= first) / passes
    for key, field in (("spark.jobs_per_op", "jobs"), ("spark.stages_per_op", "stages"),
                       ("spark.tasks_per_op", "tasks"), ("spark.no_task_s_per_op", "no_task_s")):
        m[key] = sum(r[field] for r in recs) / n_ops
    for key, field in (("executor.run_s", "run_s"), ("executor.cpu_s", "cpu_s"),
                       ("executor.gc_s", "gc_s"), ("catalog.scan_bytes", "scan_bytes"),
                       ("catalog.scan_records", "scan_records"),
                       ("shuffle.write_bytes", "shuffle_write_bytes"),
                       ("shuffle.read_bytes", "shuffle_read_bytes"), ("spill.bytes", "spill_bytes")):
        m[key] = sum(r[field] for r in recs) / passes
    m["executor.peak_exec_memory_mb"] = max(r["peak_exec_memory"] for r in recs) / 2**20
    # VmHWM of the worker's Python process plus its JVM. Not an end-to-end
    # metric: under the program's own heap settings, G1's heap growth makes
    # it jump by up to 2x between runs of the same code (README.md).
    m["process.peak_rss_mb"] = (w["rss_kb"]["python"] + w["rss_kb"]["jvm"]) / 1024.0
    if spec["kind"] == "flares":
        n_loads, fetched = len(w["fetched"]), sum(w["fetched"])
        m["json_ingest.records_fetched_per_load"] = fetched / n_loads
        m["json_ingest.new_row_ratio"] = sum(r["records_written"] for r in recs) / fetched
        # every record a load reads is either its fetch or the target's history
        m["json_ingest.history_rows_scanned_per_load"] = (
            sum(r["scan_records"] for r in recs) - fetched) / n_loads
        m["json_ingest.files_per_load"] = w["files_per_load"]
        m["json_ingest.table_files"] = w["table_files"]
        m["json_ingest.table_bytes_per_row"] = w["table_bytes"] / w["table_rows"]
    else:
        for q in spec["queries"]:
            mine = [r for r in recs if r["name"] == q]
            for part in ("build", "action"):
                ds = [s["end"] - s["start"] for s in spans
                      if s["name"] == f"operators.{part}" and s["query"] == q and s["start"] >= first]
                m[f"q.{q}.{part}_s"] = statistics.median(ds)
            m[f"q.{q}.jobs"] = statistics.median(r["jobs"] for r in mine)
    m["trace.overhead_s"] = wall_s - untraced_wall(args)
    return m, recs


def code_digest() -> str:
    """Digest of the program's and the benchmark's source files."""
    h = hashlib.sha256()
    for base in ("solarflare_etl_pipeline_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def untraced_wall(args) -> float:
    """Median ``wall_s`` of this checkout's untraced runs of the same code,
    workload, window and core count; when there is none, an untraced run
    of the same length is made now."""
    d = os.path.join(STATE, "results", args.workload)
    key = (code_digest(), 0, args.tiny, args.seconds, cpus())
    walls = []
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        with open(os.path.join(d, name)) as f:
            side = json.load(f)
        if (side.get("code"), side["trace"], side["tiny"], side["seconds"], side["cpus"]) == key:
            walls.append(side["metrics"]["wall_s"])
    if not walls:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
            + (["--tiny"] if args.tiny else []),
            cwd=ROOT, capture_output=True, text=True, check=True,
            timeout=max(1, DEADLINE_S - (time.time() - T_LAUNCH)),
        )
        walls.append(json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"])
    return statistics.median(walls)


def check(w: dict, spec: dict, plan: dict) -> tuple[bool, int, dict]:
    """(correct, failed operations, per-check details)."""
    if spec["kind"] == "flares":
        details = {"bad_timed_ops": w["bad_timed_ops"], "bad_untimed": w["bad_untimed"],
                   "replay_added": w["replay_added"], "table_rows": w["table_rows"]}
        return not w["bad_untimed"], len(w["bad_timed_ops"]), details
    import oracle

    res = {}
    for sf, sf_dir in plan["sf_dirs"].items():
        sqls = {q: sql for q, sql in w["oracle_sql"].items() if str(spec["queries"][q]) == sf}
        res.update(oracle.check_all(sf_dir, os.path.join(STATE, "oracle"),
                                    plan["results_dir"], sqls))
    bad = {q for q, r in res.items() if not r["ok"]}
    return True, sum(1 for op in w["ops"] if op[0] in bad), res


def refresh_oracle() -> None:
    import fixtures
    import oracle

    sys.path.insert(0, ROOT)
    from solarflare_etl_pipeline_spark.registry import load_all

    reg = load_all()
    tmp = os.path.join(STATE, "runs", f"refresh-{os.getpid()}")
    try:
        for name, spec in workloads.WORKLOADS.items():
            if spec["kind"] != "mix":
                continue
            # each query at its own scale, and every query at the self-test's
            for sf in sorted(set(spec["queries"].values()) | {0.001}):
                sf_dir = os.path.join(tmp, f"sf{sf}")
                fixtures.generate(sf, sf_dir)
                data = oracle.data_digest(sf_dir)
                qs = [q for q, q_sf in spec["queries"].items() if sf in (q_sf, 0.001)]
                for q in qs:
                    oracle.ensure_answer(sf_dir, os.path.join(STATE, "oracle"),
                                         reg[q].oracle, data, refresh=True)
                print(f"{name} sf{sf}: {len(qs)} answers", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-oracle", action="store_true")
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: sf0.001 mixes, a handful of flare loads")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the worker is killed and the
    # run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "solarflare_etl_pipeline_spark")):
        fail(f"program package not found under {ROOT}; run from the repository root", 2)
    if args.refresh_oracle:
        refresh_oracle()
        return
    if not args.workload:
        fail("--workload is required", 2)
    spec = dict(workloads.WORKLOADS[args.workload])
    if args.tiny and spec["kind"] == "flares":
        spec.update(warmup_loads=3, round_loads=2)
    elif args.tiny:
        spec.update(queries={q: 0.001 for q in spec["queries"]}, store_sf=0.001)
    scales = sorted(set(spec["queries"].values())) if spec["kind"] == "mix" else []
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{int(T_LAUNCH * 1000)}"
    run_dir = os.path.join(STATE, "runs", run_id)
    plan = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spec": spec,
        "work_dir": os.path.join(run_dir, "work"), "tmp_dir": os.path.join(run_dir, "tmp"),
        "local_dir": os.path.join(run_dir, "spark-local"),
        "event_dir": os.path.join(run_dir, "eventlog"),
        "results_dir": os.path.join(run_dir, "results"),
        "sf_dirs": {str(sf): os.path.join(run_dir, f"data-sf{sf}") for sf in scales},
    }
    try:
        for k in ("work_dir", "tmp_dir", "local_dir", "event_dir", "results_dir"):
            os.makedirs(plan[k])
        if scales:
            import fixtures

            for sf in scales:
                fixtures.generate(sf, plan["sf_dirs"][str(sf)])
        w = run_worker(plan, run_dir)
        correct, failed, checks = check(w, spec, plan)
        e2e = end_to_end(w, spec)
        side = {"workload": args.workload, "code": code_digest(), "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "tiny": args.tiny,
                "cpus": cpus(), "spec": spec,
                "attempted": len(w["ops"]), "failed": failed, "correct": correct,
                "passes": w["passes"], "tail_pct": spec["tail_pct"],
                "metrics": e2e, "rss_kb": w["rss_kb"], "checks": checks,
                "ops": [[n, round(e - s, 6), p] for n, s, e, p in w["ops"]]}
        if args.trace:
            layer, per_op = per_layer(w, spec, plan["event_dir"], e2e["wall_s"], args)
            side.update(per_layer=layer, per_op=per_op, spans=w["spans"])
            metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(STATE, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    side_path = os.path.join(out_dir, f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime(T_LAUNCH))}-{run_id}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": len(w["ops"]), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

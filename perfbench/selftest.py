"""Fast self-test of the benchmark on tiny inputs (about four minutes).

    python3 perfbench/selftest.py

Runs every workload with ``--tiny`` (sf0.001 fixtures, a handful of flare
loads), untraced and traced, and asserts that each run's checks pass and
that every metric ``BENCHMARK.json`` names is printed with its unit. It
also asserts that the benchmark refuses to run, printing no result, in a
directory that holds only ``BENCHMARK.json`` and the benchmark's files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def check_result(stdout: str, expected: dict[str, str], label: str) -> None:
    res = json.loads(stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
        raise AssertionError(f"{label}: correct={res['correct']} failed={res['failed']}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != expected:
        raise AssertionError(f"{label}: metrics differ from BENCHMARK.json: "
                             f"{sorted(set(got) ^ set(expected))}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            raise AssertionError(f"{label}: {k} = {v['value']!r}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for name in workloads.WORKLOADS:
        for trace, expected in ((0, e2e), (1, layer)):
            args = ["--workload", name, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--tiny"]
            p = run(args)
            if p.returncode != 0:
                raise AssertionError(f"{name} trace={trace} exited {p.returncode}:\n{p.stderr[-2000:]}")
            check_result(p.stdout, expected, f"{name} trace={trace}")
            print(f"ok {name} trace={trace}", flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=bare)
        if p.returncode == 0 or p.stdout.strip():
            raise AssertionError("benchmark ran without the program present")
        print("ok refuses to run without the program", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()

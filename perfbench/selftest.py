"""Smoke test of the benchmark itself (not of the program's speed).

    python3 perfbench/selftest.py

* The catalog op sequence is a function of the seed alone.
* Every workload runs at sf0.001 with tiny op counts, once traced; its
  result line names every per-layer metric of BENCHMARK.json with its unit,
  its artifact every end-to-end metric, and its outputs check correct.
* One untraced run prints every end-to-end metric with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from catalog_workload import op_sequence  # noqa: E402


def run(workload: str, trace: int, seed: int = 3) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--max-ops", "2"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload}: exit {proc.returncode}\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    assert got == want, f"{what}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert op_sequence(7, 4) == op_sequence(7, 4), "op sequence differs for one seed"
    assert op_sequence(7, 4) != op_sequence(8, 4), "op sequence ignores the seed"
    e2e_names = {m["name"] for m in bench["end_to_end"]}
    for w in bench["workloads"]:
        name = w["name"]
        res = run(name, 1)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, (name, res)
        expect_metrics(res, bench["per_layer"], f"{name} traced")
        with open(os.path.join(ROOT, ".perfbench", "results",
                               f"{name}-seed3-trace1.json")) as f:
            artifact = json.load(f)
        assert e2e_names <= set(artifact["e2e"]), (name, sorted(artifact["e2e"]))
        print(f"ok {name} traced", flush=True)
    res = run("catalog", 0)
    expect_metrics(res, bench["end_to_end"], "catalog untraced")
    assert all(v["value"] > 0 for v in res["metrics"].values()), res
    print("ok catalog untraced")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode on two seeds.

    python3 perfbench/test_perfbench.py

Run from the root of the checkout. For each workload and each of two
seeds, an untraced smoke run must print every end-to-end metric named in
BENCHMARK.json with its unit, pass every check with no failed operation,
and record its environment; one traced smoke run per workload must print
every per-layer metric. Exits non-zero on the first failure.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEEDS = (1, 2)
ENV_KEYS = ("nproc", "master", "load_avg_1m_start", "load_avg_1m_end", "seed",
            "jvm_heap_max_mb", "jvm_args", "build", "inputs")


def run(workload, seed, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} seed {seed} trace {trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    env, result = json.loads(lines[-2])["env"], json.loads(lines[-1])
    return where, env, result


def check(where, env, result, spec_metrics):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True, f"{where}: not correct: {env['errors']} {env['checks']}"
    assert result["failed"] == 0 and result["attempted"] >= 1, f"{where}: {result}"
    for k in ENV_KEYS:
        assert k in env, f"{where}: env lacks {k}"
    assert all(env["build"].values()), f"{where}: build not identified: {env['build']}"
    assert all(i["rows"] > 0 and i["bytes"] > 0 for i in env["inputs"]), f"{where}: {env['inputs']}"
    assert env["checks"], f"{where}: no checks ran"
    for name, tally in env["checks"].items():
        passed, total = tally.split()[0].split("/")
        assert passed == total, f"{where}: check failed: {name} {tally}"
    metrics = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec_metrics}
    assert set(metrics) == set(want), \
        f"{where}: missing {set(want) - set(metrics)}, extra {set(metrics) - set(want)}"
    for name, unit in want.items():
        m = metrics[name]
        assert m["unit"] == unit, f"{where}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), \
            f"{where}: {name} = {m['value']}"


def main():
    workloads = [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        for seed in SEEDS:
            check(*run(w, seed, 0), SPEC["end_to_end"])
            print(f"ok  {w} seed {seed}: end-to-end metrics and checks", flush=True)
        check(*run(w, SEEDS[0], 1), SPEC["per_layer"])
        print(f"ok  {w} traced: per-layer metrics", flush=True)
    print("all passed")


if __name__ == "__main__":
    main()

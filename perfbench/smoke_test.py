#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json on a small generated corpus and
small generated tables, untraced and traced, and asserts that
  * every end-to-end and every per-layer metric is printed with its unit,
  * outputs check out (failed_ops_frac is 0),
  * an injected wrong expected result raises failed_ops_frac,
  * an injected failing op raises failed_ops_frac,
  * outside a graft checkout the benchmark exits non-zero without a result.
Takes a few minutes: each run starts a JVM and pays a cold pass.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, result, p.stderr


def check_metrics(result, spec, what):
    got = result["metrics"]
    for m in spec:
        assert m["name"] in got, f"{what}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{what}: {m['name']} not a number"
    extra = set(got) - {m["name"] for m in spec}
    assert not extra, f"{what}: unlisted metrics {sorted(extra)}"


def failed_frac(result):
    return result["failed"] / result["attempted"]


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    common = ["--seed", "1", "--seconds", "1", "--tiny"]
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            rc, res, err = run("--workload", w, "--trace", str(trace), *common)
            assert rc == 0 and res, f"{w} trace={trace} failed:\n{err[-2000:]}"
            check_metrics(res, spec, f"{w} trace={trace}")
            assert res["correct"] and failed_frac(res) == 0, f"{w} trace={trace}: {err[-2000:]}"
            print(f"ok   {w} trace={trace}: {len(spec)} metrics with units, all outputs correct")

    rc, res, err = run("--workload", "pipeline_e2e", "--trace", "0", "--inject", "wrong", *common)
    assert rc == 0 and res and failed_frac(res) > 0 and not res["correct"], err[-2000:]
    print(f"ok   injected wrong expected result: failed_ops_frac {failed_frac(res):.3f}")
    rc, res, err = run("--workload", "pair_kernels", "--trace", "0", "--inject", "wrong", *common)
    assert rc == 0 and res and failed_frac(res) > 0 and not res["correct"], err[-2000:]
    print(f"ok   injected wrong oracle result: failed_ops_frac {failed_frac(res):.3f}")
    rc, res, err = run("--workload", "pair_kernels", "--trace", "0", "--inject", "fail", *common)
    assert rc == 0 and res and failed_frac(res) > 0 and not res["correct"], err[-2000:]
    print(f"ok   injected failing op: failed_ops_frac {failed_frac(res):.3f}")

    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        rc, res, _ = run("--workload", "pipeline_e2e", "--trace", "0", *common, cwd=d,
                         script=os.path.join(d, "perfbench", "run.py"))
        assert rc != 0 and res is None, "ran outside a graft checkout"
    print("ok   outside a checkout: exit code", rc, "and no result")


if __name__ == "__main__":
    main()

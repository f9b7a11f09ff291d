#!/usr/bin/env python3
"""Self-test of the benchmark.

For every workload, at a tiny input size:
  - an untraced run prints every end-to-end metric of BENCHMARK.json, each
    with its declared unit, and its output checks pass;
  - a traced run prints every per-layer metric, each with its unit;
  - a run whose output is deliberately perturbed fails its check.
Then, in a directory holding only BENCHMARK.json and the benchmark's own
files, the command must exit non-zero without printing a result.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

TINY = {"drain_bulk": "0.025", "corpus_gates": "0.2"}


def run(cmd, cwd="."):
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
    return p, last


def result(p, last, what):
    if p.returncode != 0:
        raise AssertionError(f"{what}: exit {p.returncode}\n{p.stderr[-2000:]}")
    r = json.loads(last)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {sorted(r)}"
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, f"{what}: attempted"
    assert isinstance(r["failed"], int), f"{what}: failed"
    return r


def expect_metrics(r, declared, what):
    got = r["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    assert set(got) == set(want), f"{what}: metrics differ: {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        m = got[name]
        assert set(m) == {"value", "unit"}, f"{what}: {name} keys {sorted(m)}"
        assert m["unit"] == unit, f"{what}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"{what}: {name} value {m['value']!r}"


def main():
    bench = json.loads(Path("BENCHMARK.json").read_text())
    base = bench["command"]
    failures = []
    for w in [x["name"] for x in bench["workloads"]]:
        args = base + ["--workload", w, "--seed", "7", "--seconds", "1", "--scale", TINY[w]]
        try:
            r = result(*run(args + ["--trace", "0"]), f"{w} trace 0")
            assert r["correct"] is True, f"{w}: output check failed on an unperturbed run"
            expect_metrics(r, bench["end_to_end"], f"{w} trace 0")
            for m in bench["end_to_end"]:
                assert r["metrics"][m["name"]]["value"] > 0, f"{w}: {m['name']} is not positive"
            r = result(*run(args + ["--trace", "1"]), f"{w} trace 1")
            expect_metrics(r, bench["per_layer"], f"{w} trace 1")
            r = result(*run(args + ["--trace", "0", "--perturb"]), f"{w} perturbed")
            assert r["correct"] is False, f"{w}: a perturbed output passed the check"
            print(f"ok   {w}")
        except AssertionError as e:
            failures.append(str(e))
            print(f"FAIL {w}: {e}")

    # only BENCHMARK.json and the benchmark's own files: no program to build
    bare = Path(".bench_build") / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy("BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    p, last = run(base + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or last.startswith("{"):
        failures.append("bare directory: the command did not fail")
        print("FAIL bare directory run succeeded")
    else:
        print(f"ok   bare directory exits {p.returncode} without a result")
    if failures:
        sys.exit(f"{len(failures)} self-test failure(s)")
    print("self-test passed")


if __name__ == "__main__":
    main()

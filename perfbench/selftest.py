#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

Usage (from the repository root):

    python3 perfbench/selftest.py

For every workload, on a few hundred rows:
  - an untraced and a traced run must check correct and print every metric
    of BENCHMARK.json (end-to-end, then per-layer) with its unit;
  - a run with one planted wrong expectation must report correct=false.
Finally, a copy holding only BENCHMARK.json and perfbench/ must exit non-zero
without printing a result. Takes a few minutes (one JVM per run).
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def bench(root, *args):
    return subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
                          cwd=root, capture_output=True, text=True, timeout=900)


def run(workload, trace, plant=0):
    p = bench(REPO, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
              "--scale", "tiny", "--plant-wrong", str(plant))
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, (w, trace, r)
            assert set(r["metrics"]) == {m["name"] for m in spec[kind]}, (w, trace, sorted(r["metrics"]))
            for m in spec[kind]:
                got = r["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (w, m, got)
                assert isinstance(got["value"], (int, float)), (w, m, got)
                if trace == 0:
                    assert got["value"] > 0, (w, m, got)
            print(f"ok   {w} trace={trace}: {len(r['metrics'])} metrics, {r['attempted']} operations")
        r = run(w, 0, plant=1)
        assert not r["correct"] and r["failed"] > 0, (w, "planted wrong expectation passed", r)
        print(f"ok   {w}: planted wrong expectation fails {r['failed']}/{r['attempted']} operations")

    bare = os.path.join(REPO, ".bench_out", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
              "--trace", "0")
    assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout[-500:])
    shutil.rmtree(bare)
    print("ok   without the library sources the benchmark exits", p.returncode, "and prints no result")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

Runs every workload of BENCHMARK.json once untraced and once traced on a
tiny input (catalog tables at sf 0.001, a few thousand corpus rows) and
asserts that each run passes its output checks and prints every metric
BENCHMARK.json names, with its unit. It also runs one group workload a
second time with the same seed (same input digest) and once with another
seed (a different digest, still clean).

    python3 perfbench/selftest.py
"""
import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and len(lines) >= 2, \
        f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stdout[-2000:]}{proc.stderr[-3000:]}"
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    digests = {}
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            detail, result = run(w, 1, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
                (w, trace, detail["failed_checks"])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == expected[trace], (w, trace, set(got) ^ set(expected[trace]))
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            assert detail["error_rate"] == 0
            digests[w] = detail["input_digest"]
            print(f"OK {w} trace={trace}: {len(got)} metrics, {result['attempted']} attempted")
    w = "groups_many_small"
    again, _ = run(w, 1, 0)
    assert again["input_digest"] == digests[w], "same seed gave another input digest"
    other, result = run(w, 2, 0)
    assert other["input_digest"] != digests[w] and result["correct"], "second seed"
    print("OK same seed, same digest; second seed runs clean")


if __name__ == "__main__":
    main()

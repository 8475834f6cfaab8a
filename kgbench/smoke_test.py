#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload run.py offers (those of
BENCHMARK.json and `extract`) at tiny size, untraced and traced. Each run
must exit 0, be correct, and print exactly the metrics BENCHMARK.json
names for its mode, with their units.

    python3 kgbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--size", "tiny"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            label = f"{w} --trace {trace}"
            try:
                res = json.loads(r.stdout.strip().split("\n")[-1])
            except (ValueError, IndexError):
                failures.append(f"{label}: exit {r.returncode}, no JSON result")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if r.returncode != 0:
                problems.append(f"exit {r.returncode}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(res)}")
            if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                                f"failed={res.get('failed')}")
            if got != want[trace]:
                problems.append(f"metrics differ: missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"unit mismatches {sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])}")
            printed = [l for l in r.stdout.split("\n") if l.startswith("[kgbench] metric ")]
            if sorted(l.split()[2] for l in printed) != sorted(want[trace]):
                problems.append("the human-readable metric lines differ from the JSON")
            print(f"{label}: {'ok' if not problems else '; '.join(problems)}", flush=True)
            failures += [f"{label}: {p}" for p in problems]
    if failures:
        print(f"{len(failures)} problem(s)")
        return 1
    print("all workloads print every named metric")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median, the quartiles and the quartile spread
(Q3 - Q1) / median, as statistics.quantiles(values, n=4) gives them.

    python3 kgbench/spread.py --workloads pipeline,queries --seeds 1-10

Each run's JSON result is appended to kgbench/work/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="a range such as 1-10")
    a = ap.parse_args()

    log = os.path.join(HERE, "work", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        values = {m: [] for m in bounds}
        for seed in seeds(a.seeds):
            t0 = time.time()
            r = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                                   str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            took = time.time() - t0
            try:
                res = json.loads(r.stdout.strip().split("\n")[-1])
            except (ValueError, IndexError):
                print(f"{w} seed {seed}: exit {r.returncode}, no result ({took:.0f} s)", flush=True)
                continue
            wall = [float(l.split()[2]) for l in r.stdout.split("\n") if l.startswith("[kgbench] wall_s ")]
            passes = [p[4:] for l in r.stdout.split("\n") if l.startswith("[kgbench] workload=")
                      for p in l.split() if p.startswith("cpu=")]
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "run_s": round(took, 1),
                                    "wall_s": wall[0] if wall else None,
                                    "pass_cpu_s": passes[0] if passes else None, **res}) + "\n")
            for m in values:
                values[m].append(res["metrics"][m]["value"])
            shown = " ".join(f"{m}={res['metrics'][m]['value']:.4g}" for m in values)
            print(f"{w} seed {seed}: correct={res['correct']} {shown} ({took:.0f} s)", flush=True)
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread < bounds[m] / 3 else ("within bound" if spread < bounds[m] else "TOO WIDE")
            print(f"  {w} {m}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} "
                  f"(bound {bounds[m]}) {flag}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

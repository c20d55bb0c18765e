"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload W [--runs 10] [--first-seed 1]

Runs the benchmark once per seed, sequentially, and prints for every
end-to-end metric its median and the distance between the first and third
quartile as a share of the median, next to the metric's bound from
BENCHMARK.json. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
            capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-3000:]}")
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        ctx = json.loads(lines[-2])["context"]
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
              " | " + " ".join(f"{q}={t:.3g}" for q, t in ctx["op_latency_s"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:28s} median={med:.4g} spread={spread:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()

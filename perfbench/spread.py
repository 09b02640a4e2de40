#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 ... [--out f.json]

Runs `perfbench/run.py` once per seed (untraced, `run_seconds` from
BENCHMARK.json) from the current directory and prints, per metric, the
median, the interquartile range as a share of the median, and that share
against the metric's bound; `--out` also keeps each run's wall time and CPU
steal. A spread above a third of the bound means the
metric is not yet steady enough to judge a change by.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    runs = []
    for seed in a.seeds:
        t0 = time.monotonic()
        r = subprocess.run(
            spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", "0"],
            capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            sys.exit("seed %d failed" % seed)
        lines = r.stdout.strip().splitlines()
        health, last = json.loads(lines[-2])["health"], json.loads(lines[-1])
        if not last["correct"]:
            sys.exit("seed %d: incorrect result" % seed)
        runs.append({"seed": seed, "run_s": time.monotonic() - t0,
                     "cpu_steal_frac": health["cpu_steal_frac"],
                     **{k: v["value"] for k, v in last["metrics"].items()}})
        print("seed %d done in %.0f s" % (seed, runs[-1]["run_s"]),
              file=sys.stderr, flush=True)
    rows = []
    for m in spec["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        rows.append({"metric": m["name"], "median": med, "spread": spread,
                     "bound": m["bound"], "steady": spread < m["bound"] / 3})
        print("%-16s median %12.6g  spread %6.3f  bound %.2f  %s" % (
            m["name"], med, spread, m["bound"],
            "ok" if spread < m["bound"] / 3 else "NOT STEADY"))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "spread": rows},
                      f, indent=1)


if __name__ == "__main__":
    main()

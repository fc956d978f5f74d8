#!/usr/bin/env python3
"""Steadiness record: run each workload in separate processes on several
seeds and write every run's metrics with their median and quartile spread.

    python3 layerbench/steady.py --runs 10 --seconds 20 --out FILE

Run from the repository root. Each workload runs untraced on seeds 1 to
`--runs`, one process per run. The spread is (Q3 - Q1) / median over the
runs, quartiles as Python's statistics.quantiles(values, n=4) gives them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    record = {"seconds": a.seconds, "workloads": {}}
    for w in run.WORKLOADS:
        runs = []
        for seed in range(1, a.runs + 1):
            t0 = time.monotonic()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", "0"], capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            res.update(seed=seed, wall_s=round(time.monotonic() - t0, 1))
            runs.append(res)
            print(w, seed, res["wall_s"], res["correct"], flush=True)
        summary = {}
        for m in runs[0]["metrics"]:
            v = [x["metrics"][m]["value"] for x in runs]
            q1, q2, q3 = statistics.quantiles(v, n=4)
            summary[m] = {"median": q2, "q1": q1, "q3": q3,
                          "spread": stats.quartile_spread(v), "values": v}
        record["host"] = json.load(open(os.path.join(
            ".bench_build", "last", f"{w}-trace0.json")))["host"]
        record["workloads"][w] = {
            "all_correct": all(x["correct"] for x in runs),
            "run_wall_s": [x["wall_s"] for x in runs],
            "metrics": summary}
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    for w, rec in record["workloads"].items():
        for m, s in rec["metrics"].items():
            print(f"{w:14s} {m:24s} median {s['median']:12.5f} spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()

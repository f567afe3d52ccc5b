#!/usr/bin/env python3
"""Steadiness check: run a workload once per seed, report each metric's
spread (interquartile range over median, from statistics.quantiles with
n=4) against the bound in BENCHMARK.json. With --against, also compare
each metric's median with that of an earlier set written by --out: the
change, as a share of the earlier median, must stay within the bound.

    python3 whbench/steady.py --workload ingest-query --seeds 1-10 \
        [--trace 0] [--out set2.json] [--against set1.json]
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


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--against")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, round(time.time() - t0, 1)
        runs.append(res)
        print(json.dumps({"seed": seed, "wall_s": res["wall_s"],
                          "correct": res["correct"],
                          **{k: round(v["value"], 4)
                             for k, v in res["metrics"].items()}}), flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals),
                         "spread": spread(vals), "bound": bounds.get(name)}
        print(f"{name:36s} median {summary[name]['median']:12.4f}  spread "
              f"{summary[name]['spread']:.4f}  bound {bounds.get(name)}")
    if a.against:
        with open(a.against) as f:
            before = json.load(f)["summary"]
        for name, m in summary.items():
            change = m["median"] / before[name]["median"] - 1
            bound = bounds.get(name)
            verdict = "" if bound is None else (
                "within" if abs(change) <= bound else "OUTSIDE")
            print(f"{name:36s} median {before[name]['median']:12.4f} -> "
                  f"{m['median']:12.4f}  change {change:+.4f}  {verdict}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "runs": runs,
                       "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()

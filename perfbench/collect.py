#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize the runs.

  python3 perfbench/collect.py --out runs.jsonl --seeds 1-10 [--trace 0|1]
      [--seconds N] [--workloads live_table,batch]
  python3 perfbench/collect.py --summarize runs.jsonl [more.jsonl ...]

The first form appends one JSON record per run (workload, seed, wall
time, the contract line and the detail line) to --out; seconds and
workloads default to BENCHMARK.json's. The second prints, per workload
and metric, the median, the quartiles (`statistics.quantiles(n=4)`) and
the spread (q3 - q1) / median, as JSON.
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


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    with open(args.out, "a") as f:
        for w in workloads:
            for seed in seeds_of(args.seeds):
                t0 = time.time()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(seconds),
                                    "--trace", str(args.trace)],
                                   cwd=ROOT, capture_output=True, text=True)
                rec = {"workload": w, "seed": seed, "trace": args.trace, "seconds": seconds,
                       "wall_s": round(time.time() - t0, 2), "exit": p.returncode}
                lines = p.stdout.strip().splitlines()
                if p.returncode == 0:
                    rec["result"] = json.loads(lines[-1])
                    rec["detail"] = json.loads(next(
                        l for l in lines if l.startswith("perfbench-detail ")).split(" ", 1)[1])
                else:
                    rec["stderr"] = p.stderr[-2000:]
                f.write(json.dumps(rec, sort_keys=True) + "\n")
                f.flush()
                print(w, seed, "exit", p.returncode, "wall", rec["wall_s"], flush=True)


def summarize(paths):
    by = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if r["exit"] == 0:
                    by.setdefault(r["workload"], []).append(r)
    out = {}
    for w, rs in sorted(by.items()):
        s = {"runs": len(rs), "seeds": sorted(r["seed"] for r in rs),
             "failed": sum(r["result"]["failed"] for r in rs),
             "attempted": sum(r["result"]["attempted"] for r in rs),
             "wall_s_median": statistics.median(r["wall_s"] for r in rs),
             "wall_s_max": max(r["wall_s"] for r in rs), "metrics": {}}
        for k, v0 in rs[0]["result"]["metrics"].items():
            v = [r["result"]["metrics"][k]["value"] for r in rs]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
            s["metrics"][k] = {"unit": v0["unit"], "median": med, "q1": q[0], "q3": q[2],
                               "spread": (q[2] - q[0]) / med if med else None}
        out[w] = s
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--workloads")
    ap.add_argument("--summarize", nargs="+")
    args = ap.parse_args()
    if args.summarize:
        print(json.dumps(summarize(args.summarize), indent=1, sort_keys=True))
    else:
        collect(args)


if __name__ == "__main__":
    main()

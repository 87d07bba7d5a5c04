#!/usr/bin/env python3
"""Self-test of the benchmark (about four minutes on 4 cores).

  python3 perfbench/selftest.py

Checks, on seeded inputs and one-second runs:
  * every metric BENCHMARK.json names is emitted, with its unit, in the
    untraced (end-to-end) and traced (per-layer) runs;
  * a deliberately corrupted result fails the oracle check;
  * live_window and batch calls run no fold-tagged Spark job, while
    live_table and live_enrich calls do (the roles come from the fold
    runner's own `callSite.short` job tags);
  * live_enrich at its real input size takes the keyed-read over-cap
    fallback (`keyread2:` jobs).
Exits 1 on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), *extra],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        fail(f"{workload} trace={trace} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def fail(msg):
    print("FAIL " + msg)
    sys.exit(1)


def check(cond, msg):
    if not cond:
        fail(msg)
    print("ok   " + msg)


def names_and_units(result, spec, label):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{label}: emits exactly the {len(want)} named metrics with their units")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]

    r = run("live_table", 0, "--corrupt")
    names_and_units(r, bench["end_to_end"], "live_table untraced")
    check(r["failed"] > 0 and r["correct"] is False, "a corrupted result is caught")
    r = run("batch", 0)
    names_and_units(r, bench["end_to_end"], "batch untraced")
    check(r["failed"] == 0 and r["correct"] is True, "batch passes every check")

    for w in ("live_table", "live_enrich", "live_window", "batch"):
        r = run(w, 1)
        names_and_units(r, bench["per_layer"], f"{w} traced")
        m = {k: v["value"] for k, v in r["metrics"].items()}
        fold_jobs = m["fold.probe_jobs"] + m["fold.keyread_jobs"] + m["fold.write_jobs"] + \
            m["fold.keycap_fallbacks"]
        if w in ("live_table", "live_enrich"):
            check(fold_jobs > 0 and m["fold.write_jobs"] > 0, f"{w} runs fold-tagged jobs")
        else:
            check(fold_jobs == 0, f"{w} runs no fold-tagged job")
        if w == "live_enrich":
            check(m["fold.keycap_fallbacks"] > 0, "live_enrich takes the keyed-read over-cap fallback")
        if w == "live_window":
            check(m["state.rows_total"] > 0, "live_window keeps Spark state-store rows")
        if w == "batch":
            check(m["live.triggers"] == 0, "batch runs no streaming trigger")
    missing = set(workloads) - {"live_table", "live_enrich", "live_window", "batch"}
    check(not missing, "every BENCHMARK.json workload is covered")
    print("selftest passed")


if __name__ == "__main__":
    main()

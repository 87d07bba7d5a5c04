#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

  python3 perfbench/run.py --workload live_table --seed 1 --seconds 8 --trace 0

Builds the engine and the harness with sbt on first use (perfbench/build.sbt),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
harness JVM (perfbench/src) and checks every reference result against its
DuckDB oracle SQL in `graft.SparkEntry.oracleSql` with scripts/check.py.
Needs the repository's sources next to perfbench/ and exits 2 without them.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Metric definitions,
workload rationale and the layer map are in perfbench/SPEC.md.
"""
import argparse
import glob
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import reduce  # noqa: E402

# Each workload's input directory: its tables and their generator
# parameters. NARROW is a dense stream over a small user domain, so
# joins, sessions and absences match; WIDE is purchase-heavy over a
# 2M-user domain, so each of deployApp's 4 replay chunks carries about
# 22 500 distinct purchase keys, past the fold runner's keyed-read cap
# (20 000); the documents and embeddings feed the LLM-pipeline
# operators, sized so the quadratic DuckDB oracles stay fast.
NARROW = {"n": 20000, "users": 400, "skew": 0.5}
WIDE = {"n": 100000, "users": 2000000, "skew": 0.0, "purchase_share": 0.9}
INPUTS = {
    "live_table": {"events": NARROW},
    "live_enrich": {"events": WIDE},
    "live_window": {"events": NARROW},
    "batch": {"events": NARROW, "documents": {"n": 60, "dup_share": 0.15},
              "embeddings": {"n": 60, "clusters": 6}},
}
JVM_TIMEOUT_S = 170
CHECK_MEMORY = 4 << 30
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    m = 0.0
    for p in paths:
        for f in glob.glob(os.path.join(p, "**", "*"), recursive=True):
            if os.path.isfile(f):
                m = max(m, os.path.getmtime(f))
    return m


def build():
    """sbt-compile the engine (the root build) and the harness once per
    source change; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    builds = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    if (os.path.exists(cp_file) and os.path.getmtime(cp_file) >=
            max([newest_mtime(sources)] + [os.path.getmtime(b) for b in builds])):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"], cwd=HERE, env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed (log: %s)" % log)
    return open(cp_file).read().strip()


def run_jvm(cp, args, run_dir, inputs):
    """Run the harness; returns samples.json's content."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    local = os.path.join(run_dir, "local")
    scratch = os.path.join(run_dir, "scratch")
    out = os.path.join(run_dir, "out")
    for d in (local, scratch, out):
        os.makedirs(d)
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + local, "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--inputs", inputs,
            "--out", out, "--local", local]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=f,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    samples = os.path.join(out, "samples.json")
    if rc != 0 or not os.path.exists(samples):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        die("harness JVM failed (exit %s)" % rc)
    with open(samples) as f:
        return json.load(f)


def oracle_check(out_dir, inputs_dir):
    """Run scripts/check.py on the reference results the JVM wrote
    (`<out>/call<i>/` plus `oracle_sql.json`). Returns {call index: error}.
    The check's address space is capped, so an oracle that outgrows it
    fails its call instead of the machine's memory."""
    def cap():
        resource.setrlimit(resource.RLIMIT_AS, (CHECK_MEMORY, CHECK_MEMORY))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        inputs_dir, out_dir], capture_output=True, text=True,
                       preexec_fn=cap, cwd=out_dir)
    errors = {int(m.group(1)): m.group(2)
              for m in re.finditer(r"^\s*FAIL call(\d+) (.*)$", p.stdout, re.M)}
    if p.returncode not in (0, 1) or (p.returncode == 1 and not errors):
        die("scripts/check.py failed: " + (p.stdout + p.stderr)[-2000:])
    return errors


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: alter one reference result before the oracle check")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources not found under %s/src/main/scala" % ROOT)
    if not os.path.isfile(os.path.join(ROOT, "scripts", "check.py")):
        die("scripts/check.py not found")

    cp = build()
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(WORK, "inputs", args.workload, "seed%d" % args.seed)
        manifest = gen.write(inputs, args.seed, INPUTS[args.workload])
        t0 = time.time()
        result = run_jvm(cp, args, run_dir, inputs)
        jvm_s = time.time() - t0
        out_dir = os.path.join(run_dir, "out")
        if args.corrupt:
            reduce.corrupt_first_result(out_dir)
        t1 = time.time()
        errors = oracle_check(out_dir, inputs)
        oracle_s = time.time() - t1
        for i, c in enumerate(result["calls"]):
            if c["error"]:
                errors[i] = (errors.get(i, "") + "; " + c["error"]).strip("; ")
        report = reduce.reduce(result, errors, args.trace == 1)
        report.update(inputs=manifest, seed=args.seed, jvm_s=round(jvm_s, 3),
                      oracle_s=round(oracle_s, 3))
        if args.trace:
            path = os.path.join(WORK, "spans-%s-seed%d.json" % (args.workload, args.seed))
            with open(path, "w") as f:
                json.dump(reduce.spans(result), f)
            report["spans_file"] = os.path.relpath(path, ROOT)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-detail " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()

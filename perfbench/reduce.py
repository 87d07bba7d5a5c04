"""Reduce the harness's raw samples (samples.json) to the benchmark's
metrics. Definitions are in SPEC.md; the names here are the ones
BENCHMARK.json lists."""
import glob
import os
import statistics

FOLD_ROLES = ("probe", "keyread", "keyread2", "write")


def tail(xs):
    """The highest percentile with at least ten samples beyond it, with the
    percentile and sample count. Below 21 samples that percentile is not
    above the median, so the median stands in and `p` says 50."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return {"value": statistics.median(xs), "p": 50.0, "n": n}
    k = n - 11
    return {"value": xs[k], "p": round(100.0 * (k + 1) / n, 2), "n": n}


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def role(tag):
    head = tag.split(":", 1)[0]
    return head if ":" in tag and head in FOLD_ROLES else None


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def reduce(res, errors, trace):
    calls, samples, triggers = res["calls"], res["samples"], res["triggers"]
    bad_calls = set(errors)
    failed = [s for s in samples if not s["ok"] or s["call"] in bad_calls]
    by_sample = {}
    for t in triggers:
        by_sample.setdefault(t["sample"], []).append(t)
    walls = [s["wall_ms"] / 1000.0 for s in samples]
    live_trig = [t["batchDuration"] for t in triggers]
    # a batch call is one trigger over its whole input
    batch_trig = [s["wall_ms"] for s in samples if not calls[s["call"]]["live"]]
    trig = live_trig + batch_trig
    ct, tt = tail(walls), tail(trig)
    events = sum(calls[s["call"]]["input_rows"] for s in samples)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (statistics.median(res["pass_ms"]) / 1000.0, "s"),
        "events_per_s": (events / sum(walls), "events/s"),
        "call_p50_s": (statistics.median(walls), "s"),
        "call_tail_s": (ct["value"], "s"),
        "trigger_p50_ms": (statistics.median(trig), "ms"),
        "trigger_tail_ms": (tt["value"], "ms"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    out = {
        "attempted": len(samples), "failed": len(failed),
        "failed_ratio": len(failed) / len(samples),
        "call_tail": {"p": ct["p"], "n": ct["n"]},
        "trigger_tail": {"p": tt["p"], "n": tt["n"]},
        "passes": len(res["pass_ms"]), "cores": res["cores"],
        "failures": {calls[i]["name"]: e for i, e in sorted(errors.items())},
        "per_call_s": {},
    }
    for i, c in enumerate(calls):
        w = [s["wall_ms"] / 1000.0 for s in samples if s["call"] == i]
        if w:
            out["per_call_s"][c["name"]] = round(statistics.median(w), 4)
    if not trace:
        out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return out
    out["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in layer_metrics(res, by_sample).items()}
    return out


def sample_jobs(res):
    """Jobs by the timed call whose clock window holds their submission."""
    jobs = {}
    for j in res.get("jobs", []):
        for si, s in enumerate(res["samples"]):
            if s["t0"] <= j["start"] <= s["t1"]:
                jobs.setdefault(si, []).append(j)
                break
    return jobs


def layer_metrics(res, by_sample):
    calls, samples, triggers = res["calls"], res["samples"], res["triggers"]
    jobs = sample_jobs(res)
    starts = sorted(res["query_starts"])
    n = len(samples)
    live_idx = [i for i, s in enumerate(samples) if calls[s["call"]]["live"]]
    m = {}

    def compile_ms(i, s):
        c = calls[s["call"]]
        if not c["siddhiql"]:
            return 0.0
        if c["live"]:
            first = next((q for q in starts if s["t0"] <= q <= s["t1"]), None)
            return float(first - s["t0"]) if first is not None else s["build_ms"]
        return s["build_ms"]

    comp = [compile_ms(i, s) for i, s in enumerate(samples)]
    walls = [s["wall_ms"] for s in samples]
    m["siddhiql.compile_ms"] = (mean(comp), "ms")
    m["siddhiql.compile_share"] = (sum(comp) / sum(walls), "ratio")
    plan = [sum(t["queryPlanning"] for t in by_sample.get(i, []))
            if calls[s["call"]]["live"] else s["plan_ms"] for i, s in enumerate(samples)]
    m["catalyst.plan_ms"] = (mean(plan), "ms")

    m["live.triggers"] = (mean(len(by_sample.get(i, [])) for i in live_idx), "count")
    m["live.deploy_gap_ms"] = (mean(
        samples[i]["wall_ms"] - sum(t["triggerExecution"] for t in by_sample.get(i, []))
        for i in live_idx), "ms")
    for name, key in (("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
                      ("commit_offsets_ms", "commitOffsets"),
                      ("latest_offset_ms", "latestOffset")):
        m["live." + name] = (mean(t[key] for t in triggers), "ms")

    m["state.rows_total"] = (max([t["state_rows_total"] for t in triggers], default=0), "rows")
    m["state.rows_updated"] = (mean(t["state_rows_updated"] for t in triggers), "rows")
    tot = sum(t["state_rows_total"] for t in triggers)
    m["state.update_ratio"] = (
        sum(t["state_rows_updated"] for t in triggers) / tot if tot else 0.0, "ratio")
    m["state.memory_bytes"] = (max([t["state_memory_bytes"] for t in triggers], default=0), "B")
    m["state.commit_ms"] = (mean(t["state_commit_ms"] for t in triggers), "ms")

    def per_call(f):
        return mean(f(jobs.get(i, []), i) for i in range(n))

    def dur(j):
        return max(j["end"] - j["start"], 0) if j["end"] >= 0 else 0

    fold = [j for js in jobs.values() for j in js if role(j["tag"])]
    m["fold.jobs_per_trigger"] = (len(fold) / len(triggers) if triggers else 0.0, "count")
    for r, label in (("probe", "probe"), ("keyread", "keyread"), ("write", "write")):
        roles = ("keyread", "keyread2") if r == "keyread" else (r,)
        m[f"fold.{label}_jobs"] = (per_call(
            lambda js, i: sum(1 for j in js if role(j["tag"]) == r)), "count")
        m[f"fold.{label}_ms"] = (per_call(
            lambda js, i: sum(dur(j) for j in js if role(j["tag"]) in roles)), "ms")
    m["fold.keycap_fallbacks"] = (per_call(
        lambda js, i: sum(1 for j in js if role(j["tag"]) == "keyread2")), "count")
    m["fold.write_bytes"] = (per_call(
        lambda js, i: sum(j.get("output_bytes", 0) for j in js if role(j["tag"]) == "write")), "B")

    def other(js, i):
        if not any(role(j["tag"]) for j in js):
            return 0.0
        spans = [(t["start"], t["start"] + t["triggerExecution"]) for t in by_sample.get(i, [])]
        return sum(dur(j) for j in js if not role(j["tag"]) and
                   any(a <= j["start"] <= b for a, b in spans))
    m["fold.other_ms"] = (per_call(other), "ms")

    all_jobs = [j for js in jobs.values() for j in js]
    m["sched.jobs"] = (len(all_jobs), "count")
    m["sched.jobs_per_call"] = (len(all_jobs) / n, "count")
    m["sched.stages"] = (per_call(lambda js, i: sum(j.get("stages", 0) for j in js)), "count")
    m["sched.tasks"] = (per_call(lambda js, i: sum(j.get("tasks", 0) for j in js)), "count")
    m["sched.driver_gap_ms"] = (mean(
        s["wall_ms"] - union_ms([(j["start"], j["end"]) for j in jobs.get(i, []) if j["end"] >= 0],
                                s["t0"], s["t1"])
        for i, s in enumerate(samples)), "ms")
    m["sched.task_failures"] = (sum(j.get("failures", 0) for j in all_jobs), "count")
    for name, key, unit in (("exec.task_run_ms", "run_ms", "ms"),
                            ("exec.task_cpu_ms", "cpu_ms", "ms"),
                            ("exec.gc_ms", "gc_ms", "ms"),
                            ("exec.input_records", "input_records", "rows"),
                            ("shuffle.write_bytes", "shuffle_write_bytes", "B"),
                            ("shuffle.read_bytes", "shuffle_read_bytes", "B"),
                            ("shuffle.records_written", "shuffle_records_written", "rows"),
                            ("shuffle.fetch_wait_ms", "fetch_wait_ms", "ms"),
                            ("spill.bytes", "spill_bytes", "B"),
                            ("driver.result_bytes", "result_bytes", "B")):
        m[name] = (per_call(lambda js, i, k=key: sum(j.get(k, 0) for j in js)), unit)
    rin = sum(j.get("input_records", 0) for j in all_jobs)
    m["shuffle.expansion"] = (
        sum(j.get("shuffle_records_written", 0) for j in all_jobs) / rin if rin else 0.0, "ratio")
    m["scratch.bytes_written"] = (mean(s["scratch_bytes"] for s in samples), "B")
    m["scratch.files_written"] = (mean(s["scratch_files"] for s in samples), "count")

    sp = spans(res)
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)

    def self_ms(s):
        return (s["end"] - s["start"]) - union_ms(
            [(k["start"], k["end"]) for k in kids.get(s["id"], [])], s["start"], s["end"])
    m["span.call_self_ms"] = (mean(self_ms(s) for s in sp if s["kind"] == "call"), "ms")
    m["span.trigger_self_ms"] = (mean(self_ms(s) for s in sp if s["kind"] == "trigger"), "ms")
    m["trace.run_s"] = (statistics.median(res["pass_ms"]) / 1000.0, "s")
    return m


def spans(res):
    """The run -> workload -> call -> trigger -> job span tree (epoch ms)."""
    calls, samples = res["calls"], res["samples"]
    end = max(s["t1"] for s in samples)
    out = [{"id": 0, "parent": None, "kind": "run", "name": "run",
            "start": res["jvm_start_ms"], "end": end},
           {"id": 1, "parent": 0, "kind": "workload", "name": res["workload"],
            "start": min(s["t0"] for s in samples), "end": end}]
    trig_of = {}
    for t in res["triggers"]:
        trig_of.setdefault(t["sample"], []).append(t)
    jobs = sample_jobs(res)
    for i, s in enumerate(samples):
        c = calls[s["call"]]
        cid = len(out)
        out.append({"id": cid, "parent": 1, "kind": "call",
                    "name": c["name"], "start": s["t0"], "end": s["t1"]})
        tids = []
        for t in trig_of.get(i, []):
            tids.append((len(out), t["start"], t["start"] + t["triggerExecution"]))
            out.append({"id": len(out), "parent": cid, "kind": "trigger", "name": "trigger",
                        "start": t["start"], "end": t["start"] + t["triggerExecution"]})
        for j in jobs.get(i, []):
            parent = next((tid for tid, a, b in tids if a <= j["start"] <= b), cid)
            out.append({"id": len(out), "parent": parent, "kind": "job",
                        "name": j["tag"] or "job", "start": j["start"],
                        "end": j["end"] if j["end"] >= 0 else j["start"]})
    return out


def corrupt_first_result(out_dir):
    """Self-test hook: change one value of the first call's reference
    result, so the oracle check must fail it."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(out_dir, "call0", "*.parquet")))
    df = pd.read_parquet(files[0])
    num = [c for c in df.columns if pd.api.types.is_numeric_dtype(df[c])]
    df.loc[0, num[0]] = df.loc[0, num[0]] + 1
    for f in files:
        os.remove(f)
    df.to_parquet(files[0], index=False)

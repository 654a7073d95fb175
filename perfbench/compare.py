#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare them, per workload and metric.

    python3 perfbench/compare.py collect A.jsonl --seeds 1-10
    python3 perfbench/compare.py spread A.jsonl
    python3 perfbench/compare.py compare A.jsonl B.jsonl
    python3 perfbench/compare.py trace perfbench/artifacts --seed 1

`collect` runs `run.py` once per (workload, seed) and appends one line
{"workload", "seed", "elapsed_s", "result"} per run. `spread` prints each
metric's median, quartiles and spread (quartile distance over the median)
against its bound from BENCHMARK.json. `compare` takes a parent set A and a
change set B and prints, per workload and metric, both medians and quartiles,
the share of seed-matched pairs B wins (only seeds both sets ran), each
set's incorrect runs and failed ops, and a verdict: "better" when B wins at
least nine tenths of the pairs and the medians differ by more than A's
quartile distance ("no gain: B fails more" instead when B has more
incorrect runs or failed ops than A); "worse" when B's median is worse by
more than the bound; "unresolved" when either set's spread exceeds the
bound and B does not win every pair; "same" otherwise. `trace` runs every workload untraced and then
traced with one seed, keeps each traced run's artifact and writes
overhead.json: per workload, the traced and untraced `wall_s`, their
difference (the tracing overhead), and the traced rounds' wall time beside
the sum of the layers' self times.
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


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(a):
    b = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    for w in workloads:
        for s in seeds(a.seeds):
            t0 = time.time()
            rc, result = run_once(w, s, a.seconds or b["run_seconds"], a.trace)
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": s, "elapsed_s": time.time() - t0,
                                     "rc": rc, "result": result}) + "\n")
            print(f"{w} seed={s} rc={rc} {time.time() - t0:.1f}s", file=sys.stderr)


def run_once(w, seed, seconds, trace, trace_out=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def trace_cmd(a):
    b = spec()
    os.makedirs(a.dir, exist_ok=True)
    out = {}
    for w in (x["name"] for x in b["workloads"]):
        _, plain = run_once(w, a.seed, b["run_seconds"], 0)
        path = os.path.join(a.dir, f"trace_{w}.json")
        run_once(w, a.seed, b["run_seconds"], 1, os.path.abspath(path))
        with open(path) as fh:
            art = json.load(fh)
        traced = art["end_to_end_traced"]["wall_s"]["value"]
        untraced = plain["metrics"]["wall_s"]["value"]
        st = art["self_time_s"]
        out[w] = {"seed": a.seed, "wall_s_untraced": untraced, "wall_s_traced": traced,
                  "tracing_overhead_s": traced - untraced,
                  "traced_round_wall_s": st["per_round_wall_s"],
                  "sum_of_layer_self_times_per_round_s": st["sum_of_layers_s"] / art["rounds"],
                  "failed_frac": art["failed_frac"]}
        print(w, json.dumps(out[w]), file=sys.stderr)
    with open(os.path.join(a.dir, "overhead.json"), "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")


def load(path):
    """{workload: {seed: run}}, the last run of each seed kept."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            runs.setdefault(r["workload"], {})[r["seed"]] = r
    return runs


def values(runs, metric):
    """{seed: value} of a metric, over the runs that reported it."""
    out = {}
    for seed, r in runs.items():
        v = ((r["result"] or {}).get("metrics") or {}).get(metric)
        if v is not None:
            out[seed] = v["value"]
    return out


def failures(runs):
    """(runs incorrect or without a result, failed ops, attempted ops)."""
    bad = sum(1 for r in runs.values() if not r["result"] or not r["result"]["correct"])
    failed = sum(r["result"]["failed"] for r in runs.values() if r["result"])
    attempted = sum(r["result"]["attempted"] for r in runs.values() if r["result"])
    return bad, failed, attempted


def metric_names(runs):
    names = []
    for r in runs.values():
        for k in ((r["result"] or {}).get("metrics") or {}):
            if k not in names:
                names.append(k)
    return names


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def metric_specs():
    b = spec()
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def spread_cmd(a):
    specs = metric_specs()
    for w, runs in sorted(load(a.runs).items()):
        bad, failed, attempted = failures(runs)
        print(f"== {w}: {len(runs)} runs, {bad} incorrect or missing, {failed} of {attempted} ops failed")
        for k in metric_names(runs):
            xs = list(values(runs, k).values())
            q1, q2, q3 = quartiles(xs)
            sp = (q3 - q1) / q2 if q2 else float("nan")
            bound = specs.get(k, {}).get("bound")
            flag = "" if bound is None else ("ok" if sp <= bound / 3 else "within bound" if sp <= bound else "OVER BOUND")
            print(f"  {k:28s} median {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {sp:7.3f}"
                  + (f"  bound {bound:.2f} {flag}" if bound is not None else ""))


def compare_cmd(a):
    specs = metric_specs()
    A, B = load(a.parent), load(a.change)
    for w in sorted(set(A) & set(B)):
        fa, fb = failures(A[w]), failures(B[w])
        # a change that fails more runs or ops than the parent shows no gain
        more_failures = fb[0] > fa[0] or fb[1] > fa[1]
        print(f"== {w}: A {fa[0]} of {len(A[w])} runs incorrect, {fa[1]} of {fa[2]} ops failed; "
              f"B {fb[0]} of {len(B[w])} runs incorrect, {fb[1]} of {fb[2]} ops failed")
        for k in metric_names(A[w]):
            va, vb = values(A[w], k), values(B[w], k)
            if not va or not vb:
                continue
            a1, a2, a3 = quartiles(list(va.values()))
            b1, b2, b3 = quartiles(list(vb.values()))
            s = specs.get(k, {})
            lower = s.get("better", "lower") == "lower"
            pairs = [(va[seed], vb[seed]) for seed in sorted(set(va) & set(vb))]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            share = wins / len(pairs) if pairs else float("nan")
            worse_by = ((b2 - a2) if lower else (a2 - b2)) / a2 if a2 else 0.0
            bound = s.get("bound")
            spread = max((a3 - a1) / a2 if a2 else 0, (b3 - b1) / b2 if b2 else 0)
            if pairs and share >= 0.9 and abs(b2 - a2) > (a3 - a1):
                verdict = "no gain: B fails more" if more_failures else "better"
            elif bound is not None and spread > bound and wins < len(pairs):
                verdict = "unresolved"
            elif bound is not None and worse_by > bound:
                verdict = "worse"
            else:
                verdict = "same"
            print(f"  {k:28s} A {a2:11.4f} [{a1:.4f}, {a3:.4f}]  B {b2:11.4f} [{b1:.4f}, {b3:.4f}]  "
                  f"change {(b2 - a2) / a2 if a2 else 0.0:+7.1%}  B wins {share:5.0%} of {len(pairs)} seeds  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads")
    c.add_argument("--seconds", type=int)
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("spread")
    s.add_argument("runs")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    t = sub.add_parser("trace")
    t.add_argument("dir")
    t.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    {"collect": collect, "spread": spread_cmd, "compare": compare_cmd, "trace": trace_cmd}[a.cmd](a)


if __name__ == "__main__":
    main()

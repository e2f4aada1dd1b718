#!/usr/bin/env python3
"""Steadiness check for the extraction benchmark.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--workload NAME ...]

Run from the repository root. Runs each workload in two sets of `--runs`
runs, each run with another seed (set 1: seed0 .. seed0+runs-1, set 2 the
next `--runs` seeds). For every metric and set it prints the median, the
first and third quartile (Python's statistics.quantiles, n=4) and the
spread, (q3 - q1) / median. An end-to-end metric is steady when its
spread is under a third of its bound from BENCHMARK.json. It then prints
how much worse set 2's median is than set 1's, as a share of set 1's.
Each run's record line (steal and I/O-wait % per job) and result are
appended to .bench_build/steady.jsonl.

Exits 1 if a run fails, an end-to-end spread reaches its bound, or set 2's
median is worse than set 1's by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(".bench_build", "steady.jsonl")


def run_once(cmd, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    record = result = None
    for line in lines:
        if line.startswith("perfbench record "):
            record = json.loads(line[len("perfbench record "):])
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "exit": p.returncode,
                            "wall_s": wall, "record": record, "result": result}) + "\n")
    if p.returncode != 0 or result is None or not result.get("correct"):
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, record, result, wall


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_set(bench, w, seeds):
    """Runs one set; returns {metric: [values]} and whether every run passed."""
    per_metric, walls, ok = {}, [], True
    for seed in seeds:
        code, record, res, wall = run_once(bench["command"], w, seed, bench["run_seconds"])
        walls.append(wall)
        status = "ok" if code == 0 and res and res.get("correct") else f"FAILED (exit {code})"
        host = ""
        if record:
            host = (f" steal% p50 {statistics.median(record['steal_pct_per_job']):.1f}"
                    f" iowait% p50 {statistics.median(record['iowait_pct_per_job']):.1f}")
        print(f"{w} seed={seed} wall={wall:.1f}s{host} {status}", flush=True)
        if status != "ok":
            ok = False
            continue
        for name, m in res["metrics"].items():
            per_metric.setdefault(name, []).append(m["value"])
    print(f"{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return per_metric, ok


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()
    if a.runs < 2:
        raise SystemExit("need at least two runs for quartiles")
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for w in a.workload or names:
        sets = []
        for k in range(2):
            seeds = range(a.seed0 + k * a.runs, a.seed0 + (k + 1) * a.runs)
            per_metric, set_ok = run_set(bench, w, seeds)
            ok = ok and set_ok
            sets.append(per_metric)
            print(f"{w} set {k + 1}:")
            for name, values in per_metric.items():
                if len(values) < 2:
                    continue
                med, q1, q3, sp = spread(values)
                verdict = ""
                if name in e2e:
                    b = e2e[name]["bound"]
                    verdict = f"bound {b}: " + ("steady" if sp < b / 3 else
                                                "within bound" if sp < b else "TOO WIDE")
                    ok = ok and sp < b
                print(f"  {name:44s} median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {sp:.4f} {verdict}")
        print(f"{w} set 2 against set 1 (share worse; negative is better):")
        for name, m in e2e.items():
            if len(sets[0].get(name, [])) < 2 or len(sets[1].get(name, [])) < 2:
                continue
            m1, m2 = statistics.median(sets[0][name]), statistics.median(sets[1][name])
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            verdict = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
            ok = ok and worse <= m["bound"]
            print(f"  {name:44s} {m1:.6g} -> {m2:.6g} worse {worse:+.4f} bound {m['bound']} {verdict}")
        sys.stdout.flush()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

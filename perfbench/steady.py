#!/usr/bin/env python3
"""Steadiness check and smoke test for the benchmark.

    python3 perfbench/steady.py [--workloads assess,table_churn] [--seeds 10]
    python3 perfbench/steady.py --smoke

The default mode runs each workload once per seed (1..N) and prints, for
every end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median against the metric's bound from BENCHMARK.json. It exits
non-zero when a run is wrong or any spread, setup_s's included, reaches
its bound, and marks spreads at or above a third of the bound as "wide".
It also prints each op's median and tail over the samples pooled from all
runs, with the sample count.

--smoke runs every workload on the sf0.001 tables, untraced and twice
traced with the same seed, and checks that each run is correct, reports
every metric, tags every job, covers the loop with op spans, and that the
traced per-op job and FS write counts repeat exactly.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL = ["assess", "table_churn", "vector_serve"]


def run(workload, seed, seconds, trace, sf="0.1"):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace), "--sf", sf],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: run.py exited "
                         f"{p.returncode} without a result")
    return json.loads(lines[-2]), json.loads(lines[-1])


def tail(xs):
    """(percentile, value): the highest whole percentile with at least 10
    samples above its nearest rank, or None below 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(xs)[max(0, math.ceil(p / 100 * n) - 1)]


def steadiness(spec, workloads, seeds):
    bad = False
    for w in workloads:
        vals, pooled, walls = {}, {}, []
        for s in seeds:
            t0 = time.time()
            detail, res = run(w, s, spec["run_seconds"], 0)
            walls.append(time.time() - t0)
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {s}: WRONG {res}")
                bad = True
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
            for op, xs in detail["samples"].items():
                pooled.setdefault(op, []).extend(xs)
        print(f"\n{w} ({len(seeds)} seeds, run wall median"
              f" {statistics.median(walls):.1f} s, total {sum(walls):.0f} s)")
        for op, xs in pooled.items():
            t = tail(xs)
            print(f"  pooled {op:<10} n {len(xs):4d} p50"
                  f" {statistics.median(xs):8.4f} s" + (
                      f"  tail p{t[0]} {t[1]:8.4f} s" if t else ""))
        for m in spec["end_to_end"]:
            xs = vals.get(m["name"], [])
            if len(xs) < 2:
                print(f"  {m['name']:<14} missing")
                bad = True
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            verdict = ("ok" if spread < m["bound"] / 3 else
                       "wide" if spread < m["bound"] else "OVER")
            if verdict == "OVER":
                bad = True
            print(f"  {m['name']:<14} median {med:10.4f} {m['unit']:<5}"
                  f" q1 {q1:10.4f} q3 {q3:10.4f} spread {spread:6.3f}"
                  f" bound {m['bound']:.2f} {verdict}")
    return not bad


def smoke(spec, workloads):
    ok = True
    for w in workloads:
        _, plain = run(w, 1, 1, 0, sf="0.001")
        detail1, t1 = run(w, 1, 1, 1, sf="0.001")
        _, t2 = run(w, 1, 1, 1, sf="0.001")
        want_e2e = {m["name"] for m in spec["end_to_end"]}
        want_pl = {m["name"] for m in spec["per_layer"]}
        checks = {
            "untraced correct": plain["correct"],
            "untraced metrics": set(plain["metrics"]) == want_e2e,
            "traced correct": t1["correct"] and t2["correct"],
            "traced metrics": set(t1["metrics"]) == want_pl,
            "every job tagged": detail1["unattributed_jobs"] == 0,
            "span coverage >= 0.95": detail1["span_coverage"] >= 0.95,
            "counts repeat": all(
                t1["metrics"][k]["value"] == t2["metrics"][k]["value"]
                for k in want_pl
                if k.endswith(".jobs") or k.endswith(".fs_write_ops")),
        }
        for name, passed in checks.items():
            print(f"{w:<13} {name:<22} {'ok' if passed else 'FAIL'}")
            ok &= bool(passed)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(ALL))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",")
    if a.smoke:
        ok = smoke(spec, workloads)
    else:
        ok = steadiness(spec, workloads,
                        range(a.first_seed, a.first_seed + a.seeds))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

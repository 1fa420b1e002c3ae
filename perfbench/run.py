#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload assess|table_churn|vector_serve \
        --seed N --seconds S --trace 0|1 [--sf 0.1]

Run from the root of a checkout. The first call builds the engine and the
harness with sbt (the classpath is cached under .bench_build/perfbench and
rebuilt whenever a source file changes), generates the seeded input tables,
then runs one JVM. The last stdout line is the result record:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer ones.
The line before it is the full detail record (every per-workload metric,
tail percentiles, set-up parts, host fingerprint, tracing overhead).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
DATA_SEED = 42
DEADLINE_S = 170
BUILD_TIMEOUT_S = 700
DEGRADED_DISK_MBPS = 50.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Each end-to-end slot names the workload's own op that fills it; setup_s,
# cycle_s and peak_rss_mb are measured the same way in every workload.
SLOTS = {
    "assess": {"op": "scorecard.serving", "aux": "scorecard.training"},
    "table_churn": {"op": "merge", "aux": "read"},
    "vector_serve": {"op": "serve", "aux": "publish"},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += sorted(os.path.relpath(os.path.join(d, f), ROOT)
                          for f in files)
    return sorted(set(out))


def fingerprint(paths):
    h = hashlib.sha256()
    for rel in paths:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources (build.sbt, src/main/scala) in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    stamp = fingerprint(source_files())
    cp_file = os.path.join(CACHE, "classpath.txt")
    stamp_file = os.path.join(CACHE, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(CACHE, exist_ok=True)
    log = os.path.join(CACHE, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=out,
                       timeout=BUILD_TIMEOUT_S)
    code, stdout = rc
    lines = [x for x in stdout.splitlines() if x.strip()]
    cp = lines[-1].strip() if lines else ""
    if code != 0 or "perfbench" not in cp or cp.startswith("["):
        with open(log, "a") as out:
            out.write(stdout)
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def run_child(cmd, cwd, stdout, stderr, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9, ""
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def input_tables(sf):
    """Generate (once per generator version) the seeded input tables."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(CACHE, "data", f"sf{sf}-s{DATA_SEED}-{tag}")
    if not os.path.isdir(out):
        sys.path.insert(0, HERE)
        import gen_data
        tmp = out + f".tmp{os.getpid()}"
        gen_data.generate(tmp, float(sf), DATA_SEED)
        os.replace(tmp, out)
    return out


def launch(cp, args, data, work, out_json, spans):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--sf", f"sf{args.sf}", "--work", work,
              "--out", out_json, "--spans", spans,
              "--expected", os.path.join(HERE, "expected_scorecard.tsv")])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    left = DEADLINE_S - (time.time() - STARTED)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code, _ = run_child(cmd, cwd=ROOT, stdout=log,
                            stderr=subprocess.STDOUT, timeout=max(10, left))
    return code


STARTED = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SLOTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1")
    args = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as f:
        spec = json.load(f)

    cp = build()
    global STARTED
    STARTED = time.time()  # a run that builds gets its own JVM deadline
    data = input_tables(args.sf)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(CACHE, "runs", f"{run_id}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(CACHE, "results")
    os.makedirs(results, exist_ok=True)
    out_json = os.path.join(work, "result.json")
    spans = os.path.join(results, f"{run_id}-sf{args.sf}.spans.jsonl")
    code = launch(cp, args, data, work, out_json, spans)
    if not os.path.isfile(out_json):
        log = os.path.join(results, f"{run_id}-sf{args.sf}.jvm.log")
        shutil.copy(os.path.join(work, "jvm.log"), log)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the benchmark JVM exited {code} without a result; see {log}")
    with open(out_json) as f:
        rec = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    e2e = rec["end_to_end"]
    for slot, op in SLOTS[args.workload].items():
        e2e[f"{slot}_s.p50"] = e2e.get(f"{op}_s.p50")
    rec["slots"] = SLOTS[args.workload]
    rec["degraded_disk"] = (0 <= rec["host"]["disk_probe_mbps"]
                            < DEGRADED_DISK_MBPS)
    if rec["degraded_disk"]:
        print("perfbench: WARNING disk probe "
              f"{rec['host']['disk_probe_mbps']:.0f} MB/s — degraded disk, "
              "do not trust these times", file=sys.stderr)
    if args.trace:
        base = os.path.join(results, f"{args.workload}-seed{args.seed}"
                            f"-trace0-sf{args.sf}.json")
        if os.path.isfile(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            rec["tracing_overhead_s"] = {
                k: e2e[k] - untraced[k] for k in e2e if k.endswith(".p50")
                and all(isinstance(x.get(k), (int, float))
                        for x in (e2e, untraced))}
    with open(os.path.join(results, f"{run_id}-sf{args.sf}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps(rec))

    kind = "per_layer" if args.trace else "end_to_end"
    source = rec.get("per_layer", {}) if args.trace else e2e
    metrics, missing = {}, []
    for m in spec[kind]:
        v = source.get(m["name"])
        if isinstance(v, (int, float)):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    correct = bool(rec["correct"]) and not missing
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

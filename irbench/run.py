#!/usr/bin/env python3
"""One benchmark run: build if needed, run one workload in a JVM, check
and summarize, print a report and, as the last line, the result JSON.

    python3 irbench/run.py --workload serve --seed 1 --seconds 26 --trace 0

Workloads are `lifecycle` (crawl → store → merge/delete/stream) and
`serve` (closed-loop queries). With --trace 1 the run records spans and
Spark counters and reports per-layer metrics instead of end-to-end ones.
Everything it writes stays under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import summary  # noqa: E402

WORKLOADS = ("lifecycle", "serve")
JVM_TIMEOUT_S = 170

# the JDK 17 module openings Spark needs outside spark-submit (build.sbt's
# jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fmt(v):
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"irbench: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    out_dir = build.build_dir()
    work = os.path.join(out_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.jsonl")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "irbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--raw", raw, "--cores", str(cores)])
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S, cwd=work)
                code = p.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"irbench: JVM exited with {code}", file=sys.stderr)
            return 3
        with open(raw) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        res, rows, bad = summary.result(a.workload, recs, a.trace == 1, cores)
        report(a, recs, rows, bad, out_dir, raw, cores)
        print(json.dumps(summary.finite(res), allow_nan=False))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, recs, rows, bad, out_dir, raw, cores):
    print(f"irbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    for b in bad:
        print(f"MISMATCH {b['name']}: {b['detail']}")
    e2e = summary.end_to_end(a.workload, recs)
    for name, unit in summary.END_TO_END:
        print(f"  {name} = {fmt(e2e[name])} {unit}")
    for name, value, unit in rows:
        print(f"  {name} = {fmt(value)} {unit}")
    print(f"  check_s = {fmt(summary.phase_s(recs, 'check'))} s (oracle and checks, untimed)")
    results = os.path.join(out_dir, "results")
    os.makedirs(results, exist_ok=True)
    key = os.path.join(results, f"{a.workload}-{a.seed}.json")
    if not a.trace:
        with open(key, "w") as f:
            json.dump(e2e, f)
        return
    for name, value in summary.per_layer(a.workload, recs, cores).items():
        unit = summary.PER_LAYER.get(name, ("",))[0]
        print(f"  {name} = {fmt(value)} {unit}".rstrip())
    traces = os.path.join(out_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    kept = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
    shutil.copyfile(raw, kept)
    print(f"  spans and counters: {os.path.relpath(kept)}")
    if os.path.exists(key):
        with open(key) as f:
            plain = json.load(f)
        for name, _ in summary.END_TO_END:
            if plain.get(name):
                print(f"  tracing overhead {name}: {fmt(e2e[name])} traced vs "
                      f"{fmt(plain[name])} untraced ({(e2e[name] / plain[name] - 1) * 100:+.1f}%)")
    else:
        print("  tracing overhead: run the same workload and seed with --trace 0 first")


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Interleaved A/B runs of the irbench benchmark in two checkouts.

    git worktree add ../base HEAD~1        # or any checkout of the parent
    python3 tools/ab_pairs.py --base ../base --change . \\
        --workload serve --seeds 1301-1310 --seconds 26

For every seed it runs `irbench/run.py` once in each checkout, one after
the other, flipping which side goes first from seed to seed so drift in
host load falls on both sides alike. It then prints, per workload and
end-to-end metric (as BENCHMARK.json of the change names them), each
side's median and q1-q3 and the number of pairs the change wins, plus
how many runs were correct and how many operations failed. With
--out FILE it also writes every run's result as JSON. It only reads
`irbench/`; each run builds and writes under its own checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    """'1301-1310' or '1,5,9' → list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    """One irbench run in `checkout`; its result JSON (the last stdout line)."""
    cmd = [sys.executable, "irbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}"}


def value(run, name):
    """A metric's value in a run's result, or None."""
    m = run.get("metrics", {}).get(name)
    return m.get("value") if isinstance(m, dict) else m


def quartiles(xs):
    """(median, q1, q3) of a non-empty list."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def summarize(workload, pairs, metrics):
    """Lines of the per-metric table for one workload."""
    out = [f"== {workload}: {len(pairs)} pairs",
           f"{'metric':<28} {'base median (q1-q3)':<30} {'change median (q1-q3)':<30} wins"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(value(b, name), value(c, name)) for b, c in pairs]
        both = [(b, c) for b, c in both if b is not None and c is not None]
        if not both:
            continue
        sides = []
        for xs in ([b for b, _ in both], [c for _, c in both]):
            med, q1, q3 = quartiles(xs)
            sides.append(f"{med:.4g} ({q1:.4g}-{q3:.4g})")
        wins = sum(1 for b, c in both if (c < b if lower else c > b))
        out.append(f"{name:<28} {sides[0]:<30} {sides[1]:<30} {wins}/{len(both)}")
    for label, side in (("base", 0), ("change", 1)):
        runs = [p[side] for p in pairs]
        ok = sum(1 for r in runs if r.get("correct"))
        failed = sum(r.get("failed", 0) for r in runs)
        attempted = sum(r.get("attempted", 0) for r in runs)
        out.append(f"{label}: {ok}/{len(runs)} runs correct, "
                   f"{failed} of {attempted} operations failed")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1301-1310")
    ap.add_argument("--seconds", type=float, default=26)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    results = {}
    for w in a.workload:
        pairs = []
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = [("base", a.base), ("change", a.change)]
            if i % 2:
                order.reverse()
            got = {}
            for label, checkout in order:
                got[label] = run_once(checkout, w, seed, a.seconds, a.trace)
                vals = {m["name"]: value(got[label], m["name"]) for m in metrics}
                print(f"{w} seed {seed} {label}: correct={got[label].get('correct')} "
                      f"{json.dumps(vals)}", flush=True)
            pairs.append((got["base"], got["change"]))
        results[w] = [{"seed": s, "base": b, "change": c}
                      for s, (b, c) in zip(seeds_of(a.seeds), pairs)]
        print("\n".join(summarize(w, pairs, metrics)), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

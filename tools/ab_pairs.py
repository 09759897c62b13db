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
how many runs were correct and how many operations failed. A second
table does the same for the workload's own report lines (`name = value
unit`, e.g. lifecycle `merge_s`, serve `query_p50_ms.tail`), so a change
shows the layer it moved. With --out FILE it also writes every run's
result, report lines included, as JSON. It only reads `irbench/`; each
run builds and writes under its own checkout.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

# "  merge_s = 4.0 s", "  query_p99_ms = 812 ms (n=40)"; "n/a" values do
# not match, so a metric without samples is simply absent
REPORT_LINE = re.compile(r"^\s+([A-Za-z_][\w.]*) = (-?[0-9][0-9.eE+-]*)(?:\s+(\S+))?")


def seeds_of(spec):
    """'1301-1310' or '1,5,9' → list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def parse_report(lines):
    """{name: (value, unit)} of a run's `name = value unit` report lines."""
    out = {}
    for line in lines:
        m = REPORT_LINE.match(line)
        if m:
            try:
                out[m.group(1)] = (float(m.group(2)), m.group(3) or "")
            except ValueError:
                pass
    return out


def run_once(checkout, workload, seed, seconds, trace):
    """One irbench run in `checkout`: its result JSON (the last stdout
    line) with the parsed report lines under "report"."""
    cmd = [sys.executable, "irbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "report": {}, "error": f"exit {p.returncode}"}
    res["report"] = {k: {"value": v, "unit": u}
                     for k, (v, u) in parse_report(lines[:-1]).items()}
    return res


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


def report_value(run, name):
    """A report line's value in a run's result, or None."""
    m = run.get("report", {}).get(name)
    return m.get("value") if isinstance(m, dict) else None


def lower_is_better(name, unit, declared):
    """Direction of a metric: as BENCHMARK.json declares it, else rates
    (`docs/s`, `q/s`) are better higher and everything else lower."""
    if name in declared:
        return declared[name] == "lower"
    return not unit.endswith("/s")


def table_rows(pairs, names, get, lower):
    """Table lines: each side's median (q1-q3) and the change's wins."""
    out = []
    for name in names:
        both = [(get(b, name), get(c, name)) for b, c in pairs]
        both = [(b, c) for b, c in both if b is not None and c is not None]
        if not both:
            continue
        sides = []
        for xs in ([b for b, _ in both], [c for _, c in both]):
            med, q1, q3 = quartiles(xs)
            sides.append(f"{med:.4g} ({q1:.4g}-{q3:.4g})")
        wins = sum(1 for b, c in both if (c < b if lower(name) else c > b))
        out.append(f"{name:<28} {sides[0]:<30} {sides[1]:<30} {wins}/{len(both)}")
    return out


def summarize(workload, pairs, metrics, declared):
    """Lines of the per-metric tables for one workload: the end-to-end
    metrics, then the report lines that are not among them."""
    header = f"{'metric':<28} {'base median (q1-q3)':<30} {'change median (q1-q3)':<30} wins"
    out = [f"== {workload}: {len(pairs)} pairs", header]
    e2e = [m["name"] for m in metrics]
    out += table_rows(pairs, e2e, value, lambda n: declared[n] == "lower")
    units = {}
    for run in (r for p in pairs for r in p):
        for name, m in run.get("report", {}).items():
            units.setdefault(name, m.get("unit", ""))
    names = [n for n in units if n not in e2e]
    if names:
        out += [f"-- {workload}: report lines", header]
        out += table_rows(pairs, names, report_value,
                          lambda n: lower_is_better(n, units[n], declared))
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
        bench = json.load(f)
    metrics = bench["end_to_end"]
    declared = {m["name"]: m["better"]
                for m in metrics + bench.get("per_layer", [])}
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
        print("\n".join(summarize(w, pairs, metrics, declared)), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Turns the raw JSON-lines records of one benchmark run into metrics.

The JVM side (scala/irbench) writes timings, sizes, correctness checks and,
in a traced run, spans and per-job Spark counters. Everything numeric that
the benchmark reports is computed here, so the rules are unit-tested
without Spark (test_summary.py).
"""
import math
from collections import defaultdict

INF = float("inf")

LAYERS = ("sources", "index", "streaming", "query")

# End-to-end metrics, reported by every workload (name, unit). `op_ms`
# and `throughput_per_s` time different parts of a workload:
#   serve:     op_ms = median tail-phase query latency (new plans each);
#              throughput_per_s = correct head-phase queries per second.
#   lifecycle: op_ms = the maintenance pass (merge + delete + stream
#              batches + seal); throughput_per_s = ingest docs per second
#              (WARC → pages + build, main and increment).
END_TO_END = (
    ("setup_s", "s"),
    ("op_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("store_bytes_per_text_byte", "ratio"),
)
FAMILIES = ("head", "tail")
MAINTENANCE = ("merge", "delete", "seal")
INGEST = ("warc_main", "build_main", "warc_inc", "build_inc")

# Per-layer metrics of a traced run: name -> (unit, end-to-end metric it
# should move, workload on which it moves it).
PER_LAYER = {}
COUNTERS = (("jobs", "count"), ("tasks", "count"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
            ("shuffle_bytes", "bytes"), ("core_util", "ratio"))
# Only counters that every workload produces: the serving store's index
# calls run no Spark job and WARC → pages shuffles nothing, so those stay
# in the traced report but out of the list in BENCHMARK.json.
for _layer, _moves, _counters in (
        ("sources", ("throughput_per_s", "lifecycle"), COUNTERS[:4] + COUNTERS[5:]),
        ("index", ("throughput_per_s", "lifecycle"), ()),
        ("streaming", ("op_ms", "lifecycle"), COUNTERS),
        ("query", ("op_ms", "serve"), COUNTERS)):
    for _name, _unit in (("self_ms", "ms"),) + _counters:
        PER_LAYER[f"{_layer}.{_name}"] = (_unit,) + _moves
PER_LAYER.update({
    "sources.warc_to_pages_ms": ("ms", "throughput_per_s", "lifecycle"),
    "sources.records_dropped": ("count", "throughput_per_s", "lifecycle"),
    "streaming.batch_p50_ms": ("ms", "op_ms", "lifecycle"),
    "streaming.seal_ms": ("ms", "op_ms", "lifecycle"),
    "index.segment_bytes_per_posting": ("bytes", "store_bytes_per_text_byte", "lifecycle"),
    "index.stage_ms.termstats": ("ms", "throughput_per_s", "lifecycle"),
    "index.stage_ms.docstats": ("ms", "throughput_per_s", "lifecycle"),
    "index.stage_ms.collstats": ("ms", "throughput_per_s", "lifecycle"),
    "query.latency_p50_ms": ("ms", "op_ms", "serve"),
    "query.parse_ms": ("ms", "op_ms", "serve"),
    "query.stats_ms": ("ms", "op_ms", "serve"),
    "query.lower_ms": ("ms", "op_ms", "serve"),
    "query.wand_ms": ("ms", "op_ms", "serve"),
    "query.plan_ms": ("ms", "op_ms", "serve"),
    "query.exec_ms": ("ms", "op_ms", "serve"),
    "query.analysis_ms": ("ms", "op_ms", "serve"),
    "query.optimization_ms": ("ms", "op_ms", "serve"),
    "query.planning_ms": ("ms", "op_ms", "serve"),
    "query.codegen_compiles": ("count", "throughput_per_s", "serve"),
    "query.codegen_ms": ("ms", "throughput_per_s", "serve"),
    "query.spark_jobs": ("count", "throughput_per_s", "serve"),
    "query.spark_stages": ("count", "throughput_per_s", "serve"),
    "query.spark_tasks": ("count", "throughput_per_s", "serve"),
    "query.task_wait_ms": ("ms", "op_ms", "serve"),
    "query.shuffle_records_per_query": ("count", "op_ms", "serve"),
    "query.shuffle_bytes_per_query": ("bytes", "op_ms", "serve"),
    "query.results_per_shuffled_record": ("ratio", "throughput_per_s", "serve"),
    "query.span_coverage": ("ratio", "op_ms", "serve"),
})
FAMILY_METRICS = (("latency_p50_ms", "ms"), ("lower_ms", "ms"), ("wand_ms", "ms"),
                  ("plan_ms", "ms"), ("exec_ms", "ms"), ("codegen_compiles", "count"),
                  ("codegen_ms", "ms"), ("shuffle_records_per_query", "count"))
for _fam, _moves in (("head", "throughput_per_s"), ("tail", "op_ms")):
    for _name, _unit in FAMILY_METRICS:
        PER_LAYER[f"query.{_fam}.{_name}"] = (_unit, _moves, "serve")
for _t in ("docmap", "minisegs", "segments", "termstats", "docstats"):
    PER_LAYER[f"index.store_bytes.{_t}"] = ("bytes", "store_bytes_per_text_byte", "lifecycle")

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


# ------------------------------------------------------------ percentiles

def percentile(values, p):
    """Nearest-rank percentile; failed samples are +inf."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly after the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(values):
    """(p, value, n) for the highest percentile of the ladder with at least
    ten samples beyond it, or None when there are too few samples."""
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p, percentile(values, p), n
    return None


def latencies(ops):
    """Op latencies in ms; a failed op counts as missing every limit."""
    return [o["ms"] if o.get("ok") else INF for o in ops]


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


# ------------------------------------------------------------ spans

def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time in ns: duration minus the part of it that its
    direct children cover. Spark phase spans are reported on their own
    and left out."""
    spans = [s for s in spans if s["layer"] != "phase"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                 for c in kids[s["id"]]]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - _union(cover)
    return out


def attribute_jobs(jobs, spans):
    """job id -> the innermost span of the job's request that was open at
    the job's start (None when no span was)."""
    by_req = defaultdict(list)
    for s in spans:
        if s["layer"] != "phase":
            by_req[s["req"]].append(s)
    out = {}
    for j in jobs:
        t = j["start_ms"] * 1_000_000
        best = None
        for s in by_req.get(j["req"], ()):
            if s["start_ns"] - 1_000_000 <= t <= s["end_ns"]:
                if best is None or s["start_ns"] >= best["start_ns"]:
                    best = s
        out[j["id"]] = best
    return out


# ------------------------------------------------------------ summaries

def _by(recs, t):
    return [r for r in recs if r["t"] == t]


def phase_s(recs, name):
    return sum(r["s"] for r in _by(recs, "phase") if r["name"] == name)


def _median(xs):
    return percentile(xs, 50.0) if xs else None


def outcome(workload, recs):
    """(attempted, failed, failed check records)."""
    checks = [c for c in _by(recs, "check") if not c["ok"]]
    if workload == "serve":
        ops = [o for o in _by(recs, "op") if o["kind"] == "query"]
        return len(ops), sum(1 for o in ops if not o["ok"]), checks
    ops = len(_by(recs, "step")) + len(_by(recs, "op"))
    bad_ops = {c.get("op") for c in checks}
    failed = len(bad_ops) + sum(1 for o in _by(recs, "op") if not o["ok"])
    return ops, min(ops, failed), checks


def _queries(recs, family=None):
    return [o for o in _by(recs, "op") if o["kind"] == "query"
            and (family is None or o["family"] == family)]


def _steps(recs):
    steps = defaultdict(list)
    for s in _by(recs, "step"):
        steps[s["name"]].append(s)
    return steps


def _qps(recs, family):
    return (sum(1 for o in _queries(recs, family) if o["ok"]) /
            phase_s(recs, f"measure_{family}"))


def maintenance_ms(recs):
    """Wall of the maintenance pass: merge, delete, stream batches, seal."""
    steps = _steps(recs)
    return (sum(s["ms"] for n in MAINTENANCE for s in steps[n]) +
            sum(o["ms"] for o in _by(recs, "op") if o["kind"] == "batch"))


def ingest_docs_per_s(recs):
    """Docs of both ingests ÷ (Σ WARC → pages + Σ build)."""
    steps = _steps(recs)
    ms = sum(s["ms"] for n in INGEST for s in steps[n])
    docs = sum(s["docs"] for n in ("build_main", "build_inc") for s in steps[n])
    return docs / (ms / 1000.0)


def end_to_end(workload, recs):
    size = _by(recs, "size")[-1]
    out = {"setup_s": phase_s(recs, "session") + phase_s(recs, "setup"),
           "store_bytes_per_text_byte": size["store_bytes"] / size["text_bytes"]}
    if workload == "serve":
        out["op_ms"] = percentile(latencies(_queries(recs, "tail")), 50.0)
        out["throughput_per_s"] = _qps(recs, "head")
    else:
        out["op_ms"] = maintenance_ms(recs)
        out["throughput_per_s"] = ingest_docs_per_s(recs)
    return out


def named_metrics(workload, recs):
    """The workload's own metrics under their descriptive names, printed
    beside the metrics of BENCHMARK.json: (name, value, unit) rows."""
    rows = []
    attempted, failed, _ = outcome(workload, recs)
    if workload == "serve":
        lat = latencies(_queries(recs))
        rows.append(("query_p50_ms", percentile(lat, 50.0), "ms"))
        tail = tail_percentile(lat)
        if tail and tail[0] > 50.0:
            p, v, n = tail
            rows.append((f"query_p{p:g}_ms", v, f"ms (n={n})"))
        rows.append(("query_samples", len(lat), "count"))
        for fam in FAMILIES:
            rows.append((f"query_p50_ms.{fam}",
                         percentile(latencies(_queries(recs, fam)), 50.0), "ms"))
            rows.append((f"queries_per_s.{fam}", _qps(recs, fam), "q/s"))
            rows.append((f"query_samples.{fam}", len(_queries(recs, fam)), "count"))
        for cls in ("bag", "field", "weight", "bool", "prox"):
            rows.append((f"query.class_p50_ms.{cls}", percentile(
                latencies([o for o in _queries(recs) if o["cls"] == cls]), 50.0), "ms"))
    else:
        steps = _steps(recs)
        rows.append(("ingest_docs_per_s", ingest_docs_per_s(recs), "docs/s"))
        rows.append(("maintenance_s", maintenance_ms(recs) / 1000.0, "s"))
        rows.append(("merge_s", _median([s["ms"] for s in steps["merge"]]) / 1000.0, "s"))
        rows.append(("delete_s", _median([s["ms"] for s in steps["delete"]]) / 1000.0, "s"))
        batch_ms = sum(o["ms"] for o in _by(recs, "op") if o["kind"] == "batch")
        seal = steps["seal"]
        stream_docs = sum(s["docs"] for s in seal)
        rows.append(("stream_docs_per_s",
                     stream_docs / ((batch_ms + sum(s["ms"] for s in seal)) / 1000.0), "docs/s"))
    src = _by(recs, "sources")[-1]
    rows.append(("records_dropped", src["records"] - src["pages"], "count"))
    rows.append(("error_rate", error_rate(attempted, failed), "ratio"))
    size = _by(recs, "size")[-1]
    for key, unit in (("docs", "docs"), ("text_bytes", "bytes"), ("store_bytes", "bytes"),
                      ("distinct_queries", "count"), ("distinct_tail", "count"),
                      ("head_pool", "count"), ("codegen_cache_entries", "entries")):
        if key in size:
            rows.append((f"size.{key}", size[key], unit))
    return rows


def _request_spans(spans, roots):
    reqs = {s["req"] for s in roots}
    return [s for s in spans if s["req"] in reqs]


def _query_metrics(roots, qspans, jobs, recs, families):
    """Per-query averages over the requests rooted at `roots`; codegen
    figures come from the phase counters of `families`."""
    out = {}
    reqs = {s["req"] for s in roots}
    n = max(1, len(roots))

    def per_query(name):
        return sum(s["end_ns"] - s["start_ns"] for s in qspans if s["name"] == name) / 1e6 / n

    out["query.latency_p50_ms"] = _median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in roots])
    for key, name in (("parse", "query.parse"), ("stats", "index.stats"),
                      ("lower", "query.lower"), ("wand", "query.wand"),
                      ("plan", "query.plan"), ("exec", "query.exec"),
                      ("analysis", "phase.analysis"),
                      ("optimization", "phase.optimization"),
                      ("planning", "phase.planning")):
        out[f"query.{key}_ms"] = per_query(name)
    cg = [c for c in _by(recs, "codegen") if c["family"] in families]
    cg_queries = max(1, sum(c["queries"] for c in cg))
    out["query.codegen_compiles"] = sum(c["compiles"] for c in cg) / cg_queries
    out["query.codegen_ms"] = sum(c["ms"] for c in cg) / cg_queries
    qjobs = [j for j in jobs if j["req"] in reqs]
    out["query.spark_jobs"] = len(qjobs) / n
    out["query.spark_stages"] = sum(j["stages"] for j in qjobs) / n
    out["query.spark_tasks"] = sum(j["tasks"] for j in qjobs) / n
    out["query.task_wait_ms"] = sum(j["task_wait_ms"] for j in qjobs) / n
    shuffled = sum(j["shuffle_write_records"] for j in qjobs)
    out["query.shuffle_records_per_query"] = shuffled / n
    out["query.shuffle_bytes_per_query"] = sum(j["shuffle_write_bytes"] for j in qjobs) / n
    rows = sum(r["n"] for r in _by(recs, "rows") if r["req"] in reqs)
    out["query.results_per_shuffled_record"] = rows / shuffled if shuffled else 0.0
    return out


def per_layer(workload, recs, cores):
    spans = _by(recs, "span")
    jobs = _by(recs, "job")
    selfs = self_times(spans)
    owner = attribute_jobs(jobs, spans)
    out = {}

    # layer totals: self time, Spark counters of the jobs each layer ran
    layer_jobs = defaultdict(list)
    for j in jobs:
        s = owner[j["id"]]
        if s is not None:
            layer_jobs[s["layer"]].append(j)
    by_id = {s["id"]: s for s in spans}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        own = sum(selfs[s["id"]] for s in mine) / 1e6
        # wall of the layer: its outermost spans (a same-layer parent holds the rest)
        outer = [s for s in mine if by_id.get(s["parent"], {}).get("layer") != layer]
        wall_ms = sum(s["end_ns"] - s["start_ns"] for s in outer) / 1e6
        js = layer_jobs[layer]
        out[f"{layer}.self_ms"] = own
        out[f"{layer}.jobs"] = len(js)
        out[f"{layer}.tasks"] = sum(j["tasks"] for j in js)
        out[f"{layer}.task_cpu_ms"] = sum(j["cpu_ms"] for j in js)
        out[f"{layer}.gc_ms"] = sum(j["gc_ms"] for j in js)
        out[f"{layer}.shuffle_bytes"] = sum(j["shuffle_write_bytes"] for j in js)
        out[f"{layer}.spill_bytes"] = sum(j["spill_bytes"] for j in js)
        out[f"{layer}.core_util"] = (sum(j["run_ms"] for j in js) / (wall_ms * cores)
                                     if wall_ms else 0.0)

    def named(name):
        return [s for s in spans if s["name"] == name]

    out["sources.warc_to_pages_ms"] = sum(
        s["end_ns"] - s["start_ns"] for s in named("sources.warc_to_pages")) / 1e6
    src = _by(recs, "sources")[-1]
    out["sources.records_dropped"] = src["records"] - src["pages"]
    out["streaming.batch_p50_ms"] = _median(
        [(s["end_ns"] - s["start_ns"]) / 1e6 for s in named("streaming.batch")])
    out["streaming.seal_ms"] = sum(
        s["end_ns"] - s["start_ns"] for s in named("streaming.seal")) / 1e6

    size = _by(recs, "size")[-1]
    for t, b in size["table_bytes"].items():
        out[f"index.store_bytes.{t}"] = b
    out["index.segment_bytes_per_posting"] = size["segment_bytes"] / size["postings"]
    commits = sorted(size["manifests"].items(), key=lambda kv: kv[1])
    for stage in ("termstats", "docstats", "collstats"):
        at = dict(commits).get(stage)
        before = [t for _, t in commits if t < at] if at is not None else []
        out[f"index.stage_ms.{stage}"] = at - max(before) if before else 0.0

    # per query: the measured requests (serve) or the check queries (lifecycle)
    families = FAMILIES if workload == "serve" else ("check",)
    roots = [s for s in named("query") if s["req"].startswith(families)]
    qspans = _request_spans(spans, roots)
    out.update(_query_metrics(roots, qspans, jobs, recs, families))
    for fam in FAMILIES:
        froots = [s for s in roots if s["req"].startswith(fam)]
        fm = _query_metrics(froots, _request_spans(spans, froots), jobs, recs, (fam,))
        for key, _ in FAMILY_METRICS:
            out[f"query.{fam}.{key}"] = fm[f"query.{key}"]
    covered = wall = 0
    kids = defaultdict(list)
    for s in qspans:
        kids[s["parent"]].append(s)
    for r in roots:
        wall += r["end_ns"] - r["start_ns"]
        covered += _union([(c["start_ns"], c["end_ns"]) for c in kids[r["id"]]
                           if c["layer"] != "phase"])
    out["query.span_coverage"] = covered / wall if wall else 0.0
    return out


def finite(res):
    """The result with every metric a finite number: a latency that only
    failed ops reached (+inf) becomes the largest double, a value with no
    samples 0."""
    for m in res["metrics"].values():
        v = m["value"]
        m["value"] = 0.0 if v is None else (1.7976931348623157e308 if math.isinf(v) else v)
    return res


def result(workload, recs, trace, cores):
    """The benchmark's last output line, as a dict, plus report rows."""
    attempted, failed, bad = outcome(workload, recs)
    if trace:
        values = per_layer(workload, recs, cores)
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        values = end_to_end(workload, recs)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    res = {"correct": failed == 0 and not bad, "attempted": attempted,
           "failed": failed, "metrics": metrics}
    return res, named_metrics(workload, recs), bad

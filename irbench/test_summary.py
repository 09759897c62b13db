"""Unit tests of the benchmark's summary rules (no Spark needed):

    python3 -m unittest discover -s irbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import summary

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def ms_ops(values, kind="query", ok=True, family="tail"):
    return [{"t": "op", "kind": kind, "id": f"{family}{i}", "cls": "bag", "family": family,
             "ms": v, "ok": ok} for i, v in enumerate(values)]


def span(i, parent, name, layer, req, start_ms, end_ms):
    return {"t": "span", "id": i, "parent": parent, "name": name, "layer": layer,
            "req": req, "start_ns": start_ms * 1_000_000, "end_ns": end_ms * 1_000_000}


def job(i, req, start_ms, **kw):
    j = {"t": "job", "id": i, "req": req, "start_ms": start_ms, "end_ms": start_ms + 1,
         "stages": 1, "tasks": 4, "run_ms": 40, "cpu_ms": 30.0, "gc_ms": 1,
         "shuffle_write_bytes": 100, "shuffle_write_records": 10,
         "spill_bytes": 0,
         "task_wait_ms": 2}
    j.update(kw)
    return j


def common(workload):
    """Records every workload emits, traced."""
    return [
        {"t": "phase", "name": "session", "s": 5.0},
        {"t": "phase", "name": "setup", "s": 10.0},
        {"t": "phase", "name": "measure_head", "s": 4.0},
        {"t": "phase", "name": "measure_tail", "s": 2.0},
        {"t": "sources", "records": 100, "pages": 100},
        {"t": "codegen", "family": "head", "compiles": 0, "ms": 0.0, "queries": 1},
        {"t": "codegen", "family": "tail", "compiles": 30, "ms": 300.0, "queries": 1},
        {"t": "codegen", "family": "check", "compiles": 20, "ms": 100.0, "queries": 2},
        {"t": "size", "docs": 100, "text_bytes": 1000, "store_bytes": 3000,
         "table_bytes": {"docmap": 1, "minisegs": 2, "segments": 3, "termstats": 4,
                         "docstats": 5},
         "segment_bytes": 600, "postings": 200,
         "manifests": {"segments": 10, "termstats": 30, "docstats": 35, "collstats": 40}},
        span(1, 0, "sources.warc_to_pages", "sources", "main", 0, 100),
        span(2, 0, "streaming.batch", "streaming", "main", 100, 200),
        span(3, 0, "streaming.seal", "streaming", "main", 200, 300),
        job(1, "main", 10), job(2, "main", 150),
    ] + [r for q, req in enumerate(("head0", "tail0") if workload == "serve"
                                   else ("check-a-0", "check-b-0"))
         for r in (span(10 + 10 * q, 0, "query", "query", req, 1000, 1100),
                   span(11 + 10 * q, 10 + 10 * q, "query.parse", "query", req, 1000, 1001),
                   span(12 + 10 * q, 10 + 10 * q, "index.stats", "index", req, 1001, 1002),
                   span(13 + 10 * q, 10 + 10 * q, "query.lower", "query", req, 1002, 1040),
                   span(14 + 10 * q, 10 + 10 * q, "query.plan", "query", req, 1040, 1050),
                   span(15 + 10 * q, 10 + 10 * q, "query.exec", "query", req, 1050, 1095),
                   span(16 + 10 * q, 10 + 10 * q, "phase.planning", "phase", req, 1041, 1049),
                   job(100 + q, req, 1060),
                   {"t": "rows", "req": req, "n": 10})]


def serve_recs():
    return common("serve") + ms_ops([100.0, 200.0, 300.0]) + ms_ops([10.0] * 8, family="head")


def lifecycle_recs():
    steps = [{"t": "step", "name": n, "ms": 1000.0, "docs": d} for n, d in (
        ("warc_main", 80), ("build_main", 80), ("warc_inc", 20), ("build_inc", 20),
        ("merge", 100), ("delete", 1), ("seal", 20))]
    return (common("lifecycle") + steps + ms_ops([50.0, 70.0], kind="batch") +
            [{"t": "check", "name": "doc count", "op": "delete", "ok": True, "detail": ""}])


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = [float(i) for i in range(1, 201)]
        self.assertEqual(summary.tail_percentile(vals), (95.0, 190.0, 200))
        self.assertEqual(summary.tail_percentile(vals[:199])[0], 90.0)
        self.assertEqual(summary.tail_percentile(vals[:1001] * 6)[0], 99.0)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(summary.tail_percentile([1.0] * 19))
        self.assertEqual(summary.tail_percentile([1.0] * 20)[0], 50.0)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(20, 400):
            p, _, count = summary.tail_percentile(list(range(n)))
            self.assertEqual(count, n)
            self.assertGreaterEqual(summary.beyond(n, p), 10)

    def test_nearest_rank(self):
        self.assertEqual(summary.percentile([3.0, 1.0, 2.0], 50.0), 2.0)
        self.assertEqual(summary.percentile([5.0], 99.0), 5.0)


class Failures(unittest.TestCase):
    def test_failed_ops_miss_every_latency_limit(self):
        ops = ms_ops([10.0, 20.0]) + ms_ops([1.0, 1.0, 1.0], ok=False)
        lat = summary.latencies(ops)
        self.assertEqual(sorted(lat)[:2], [10.0, 20.0])
        self.assertTrue(all(math.isinf(x) for x in sorted(lat)[2:]))
        self.assertTrue(math.isinf(summary.percentile(lat, 50.0)))

    def test_failed_ops_count_in_error_rate(self):
        recs = serve_recs() + ms_ops([5.0], ok=False)
        attempted, failed, _ = summary.outcome("serve", recs)
        self.assertEqual((attempted, failed), (12, 1))
        res, rows, _ = summary.result("serve", recs, False, 4)
        self.assertFalse(res["correct"])
        self.assertEqual(dict((n, v) for n, v, _ in rows)["error_rate"], 1 / 12)
        self.assertTrue(math.isinf(summary.end_to_end("serve", recs + ms_ops(
            [1.0] * 4, ok=False))["op_ms"]))

    def test_failed_check_fails_its_lifecycle_op(self):
        recs = lifecycle_recs() + [
            {"t": "check", "name": "sum(cf)", "op": "delete", "ok": False, "detail": "x"},
            {"t": "check", "name": "count", "op": "delete", "ok": False, "detail": "y"}]
        attempted, failed, bad = summary.outcome("lifecycle", recs)
        self.assertEqual((attempted, failed, len(bad)), (9, 1, 2))

    def test_non_finite_values_stay_valid_json(self):
        recs = common("serve") + ms_ops([1.0], ok=False)
        res, _, _ = summary.result("serve", recs, False, 4)
        json.loads(json.dumps(summary.finite(res), allow_nan=False))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_child_cover(self):
        spans = [span(1, 0, "query", "query", "q", 0, 100),
                 span(2, 1, "a", "query", "q", 10, 50),
                 span(3, 1, "b", "query", "q", 40, 60),
                 span(4, 1, "phase.x", "phase", "q", 0, 100)]
        st = summary.self_times(spans)
        self.assertEqual(st[1], 50 * 1_000_000)
        self.assertEqual(st[2], 40 * 1_000_000)
        self.assertNotIn(4, st)

    def test_jobs_go_to_innermost_span_of_their_request(self):
        spans = [span(1, 0, "query", "query", "q1", 0, 100),
                 span(2, 1, "query.exec", "query", "q1", 50, 100),
                 span(3, 0, "query", "query", "q2", 0, 100)]
        owner = summary.attribute_jobs([job(1, "q1", 60), job(2, "q2", 60),
                                        job(3, "main", 60)], spans)
        self.assertEqual(owner[1]["id"], 2)
        self.assertEqual(owner[2]["id"], 3)
        self.assertIsNone(owner[3])


class BenchmarkJson(unittest.TestCase):
    def test_every_per_layer_metric_maps_to_an_end_to_end_metric_and_workload(self):
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        workloads = {w["name"] for w in BENCH["workloads"]}
        for m in BENCH["per_layer"]:
            unit, moves, on = summary.PER_LAYER[m["name"]]
            self.assertEqual(unit, m["unit"], m["name"])
            self.assertIn(moves, e2e, m["name"])
            self.assertIn(on, workloads, m["name"])

    def test_benchmark_json_lists_exactly_what_is_reported(self):
        self.assertEqual([(m["name"], m["unit"]) for m in BENCH["end_to_end"]],
                         list(summary.END_TO_END))
        self.assertEqual([m["name"] for m in BENCH["per_layer"]], list(summary.PER_LAYER))

    def test_every_workload_reports_every_metric(self):
        for workload, recs in (("serve", serve_recs()), ("lifecycle", lifecycle_recs())):
            for trace, listed in ((False, BENCH["end_to_end"]), (True, BENCH["per_layer"])):
                res = summary.finite(summary.result(workload, recs, trace, 4)[0])
                self.assertEqual(set(res["metrics"]), {m["name"] for m in listed})
                self.assertTrue(res["correct"])
                for name, m in res["metrics"].items():
                    self.assertIsInstance(m["value"], (int, float), (workload, name))

    def test_lifecycle_op_is_maintenance_and_throughput_is_ingest(self):
        e2e = summary.end_to_end("lifecycle", lifecycle_recs())
        self.assertEqual(e2e["op_ms"], 3000.0 + 50.0 + 70.0)
        self.assertEqual(e2e["throughput_per_s"], 100 / 4.0)

    def test_serve_op_is_tail_latency_and_throughput_is_head(self):
        e2e = summary.end_to_end("serve", serve_recs())
        self.assertEqual(e2e["op_ms"], 200.0)
        self.assertEqual(e2e["throughput_per_s"], 8 / 4.0)

    def test_codegen_is_counted_per_family(self):
        res, _, _ = summary.result("serve", serve_recs(), True, 4)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["query.head.codegen_compiles"], 0.0)
        self.assertEqual(m["query.tail.codegen_compiles"], 30.0)
        self.assertEqual(m["query.codegen_compiles"], 15.0)
        self.assertEqual(m["query.head.exec_ms"], 45.0)

    def test_query_spans_cover_the_query(self):
        res, _, _ = summary.result("serve", serve_recs(), True, 4)
        self.assertAlmostEqual(res["metrics"]["query.span_coverage"]["value"], 0.95)
        self.assertEqual(res["metrics"]["query.planning_ms"]["value"], 8.0)


if __name__ == "__main__":
    unittest.main()

"""Unit tests of the A/B pair tool's report parsing and tables (no Spark):

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402

LIFECYCLE = """irbench lifecycle seed=4001 seconds=26 trace=0
  setup_s = 10.0497 s
  op_ms = 15849.7 ms
  throughput_per_s = 126.801 1/s
  ingest_docs_per_s = 126.801 docs/s
  merge_s = 3.50469 s
  delete_s = 4.03857 s
  stream_docs_per_s = 48.1554 docs/s
  records_dropped = 0 count
  size.text_bytes = 6.98415e+06 bytes
  check_s = 3.47577 s (oracle and checks, untimed)
""".splitlines()

SERVE = """irbench serve seed=1311 seconds=26 trace=1
MISMATCH tail q17: rank 3 differs
  query_p50_ms = 301.5 ms
  query_p99_ms = 812 ms (n=40)
  query_p50_ms.head = 250.25 ms
  query_p50_ms.tail = n/a ms
  queries_per_s.head = 3.9 q/s
  query.tail.exec_ms = 224 ms
  query.core_util = 0.61 ratio
  spans and counters: .bench_build/traces/serve-1311.jsonl
  tracing overhead op_ms: 300 traced vs 280 untraced (+7.1%)
""".splitlines()

METRICS = [{"name": "op_ms", "better": "lower"},
           {"name": "throughput_per_s", "better": "higher"}]
DECLARED = {"op_ms": "lower", "throughput_per_s": "higher",
            "query.core_util": "higher"}


def run(e2e, report, correct=True):
    return {"correct": correct, "attempted": 10, "failed": 0,
            "metrics": {k: {"value": v} for k, v in e2e.items()},
            "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}


class ParseReport(unittest.TestCase):
    def test_lifecycle_lines(self):
        got = ab_pairs.parse_report(LIFECYCLE)
        self.assertEqual(got["merge_s"], (3.50469, "s"))
        self.assertEqual(got["delete_s"], (4.03857, "s"))
        self.assertEqual(got["ingest_docs_per_s"], (126.801, "docs/s"))
        self.assertEqual(got["stream_docs_per_s"], (48.1554, "docs/s"))
        self.assertEqual(got["records_dropped"], (0.0, "count"))
        self.assertEqual(got["size.text_bytes"], (6984150.0, "bytes"))
        # trailing words after the unit are not part of it
        self.assertEqual(got["check_s"], (3.47577, "s"))
        self.assertNotIn("irbench", got)

    def test_serve_lines(self):
        got = ab_pairs.parse_report(SERVE)
        self.assertEqual(got["query_p50_ms.head"], (250.25, "ms"))
        self.assertEqual(got["query_p99_ms"], (812.0, "ms"))
        self.assertEqual(got["queries_per_s.head"], (3.9, "q/s"))
        self.assertEqual(got["query.tail.exec_ms"], (224.0, "ms"))
        # a metric without samples, the header, mismatches, paths and the
        # tracing-overhead note are not report values
        self.assertNotIn("query_p50_ms.tail", got)
        self.assertEqual(len(got), 6)


class Direction(unittest.TestCase):
    def test_declared_wins_over_unit(self):
        self.assertFalse(ab_pairs.lower_is_better("query.core_util", "ratio", DECLARED))
        self.assertTrue(ab_pairs.lower_is_better("op_ms", "ms", DECLARED))

    def test_rates_are_better_higher(self):
        self.assertFalse(ab_pairs.lower_is_better("ingest_docs_per_s", "docs/s", {}))
        self.assertFalse(ab_pairs.lower_is_better("queries_per_s.head", "q/s", {}))
        self.assertTrue(ab_pairs.lower_is_better("merge_s", "s", {}))


class Summarize(unittest.TestCase):
    def test_report_table_medians_and_wins(self):
        pairs = []
        for i in range(4):
            base = run({"op_ms": 100 + i, "throughput_per_s": 10 + i},
                       {"op_ms": (100 + i, "ms"), "merge_s": (9.0 + i, "s"),
                        "ingest_docs_per_s": (80.0 + i, "docs/s")})
            # the change is faster on merge in 3 pairs and ingests more in all
            change = run({"op_ms": 90 + i, "throughput_per_s": 12 + i},
                         {"op_ms": (90 + i, "ms"),
                          "merge_s": (4.0 + i if i < 3 else 99.0, "s"),
                          "ingest_docs_per_s": (120.0 + i, "docs/s")})
            pairs.append((base, change))
        lines = ab_pairs.summarize("lifecycle", pairs, METRICS, DECLARED)
        text = "\n".join(lines)
        self.assertIn("-- lifecycle: report lines", text)

        def row(name):
            return [ln for ln in lines if ln.split()[0] == name]

        # an end-to-end metric is listed once, in the first table
        self.assertEqual(len(row("op_ms")), 1)
        self.assertTrue(row("op_ms")[0].endswith("4/4"))
        self.assertTrue(row("throughput_per_s")[0].endswith("4/4"))
        self.assertTrue(row("merge_s")[0].endswith("3/4"))
        self.assertTrue(row("ingest_docs_per_s")[0].endswith("4/4"))
        self.assertIn("10.5 (9.75-11.25)", row("merge_s")[0])
        self.assertIn("4/4 runs correct", text)

    def test_runs_without_report_lines(self):
        pairs = [(run({"op_ms": 5}, {}), run({"op_ms": 4}, {}))]
        lines = ab_pairs.summarize("serve", pairs, METRICS, DECLARED)
        self.assertFalse(any("report lines" in ln for ln in lines))
        self.assertTrue(any(ln.startswith("op_ms") and ln.endswith("1/1") for ln in lines))


if __name__ == "__main__":
    unittest.main()

"""A check that src/main readies sessions one way (no Spark):

    python3 -m unittest discover -s tools -p 'test_*.py'

Native functions are registered only by `graft/GraftExtensions.scala` (its
extension and its idempotent `install`), and sessions are built only by
`graft/run/Mains.scala` and the benchmark harness `graft/Bench.scala`.
Comments and string literals do not count.
"""
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unreferenced  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTERS = re.compile(r"\b(createOrReplaceTempFunction|injectFunction|registerFunction)\b")
BUILDS = re.compile(r"\bSparkSession\s*\.\s*builder\b")


def calls(pattern, allowed):
    """['path:line text'] of src/main code lines matching `pattern` in
    files other than `allowed`."""
    out = []
    for path in unreferenced.files_under(ROOT, unreferenced.MAIN):
        if not path.endswith(".scala") or path in allowed:
            continue
        code = unreferenced.split_source(unreferenced.read(ROOT, path))[0]
        for i, line in enumerate(code.split("\n"), 1):
            if pattern.search(line):
                out.append(f"{path}:{i} {line.strip()}")
    return out


class RepoTest(unittest.TestCase):
    maxDiff = None

    def test_functions_are_registered_only_by_graft_extensions(self):
        self.assertEqual(calls(REGISTERS, {
            "src/main/scala/graft/GraftExtensions.scala"}), [])

    def test_sessions_are_built_only_by_mains_and_the_bench_harness(self):
        self.assertEqual(calls(BUILDS, {
            "src/main/scala/graft/run/Mains.scala",
            "src/main/scala/graft/Bench.scala"}), [])


if __name__ == "__main__":
    unittest.main()

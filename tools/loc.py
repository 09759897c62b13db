#!/usr/bin/env python3
"""Lines of Scala code under src/main, per directory, at a git revision
and in the worktree, with the change between them.

    python3 tools/loc.py HEAD~1

A line counts when it holds code: blank lines and lines that are only
comment (`//`, `/* … */`, scaladoc) do not, so deleting comments is not
a reduction. Directories are those below src/main/scala/graft ("." for
its top level). Run it from the repository root.
"""
import argparse
import os
import subprocess
import sys
from collections import Counter

ROOT = "src/main"
PKG = "src/main/scala/graft/"


def code_lines(text):
    """Lines of `text` (Scala) that hold code, not only comment or space."""
    count = 0
    depth = 0           # block-comment nesting (Scala nests them)
    in_triple = False   # inside a """ string
    for line in text.splitlines():
        code = in_triple and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            if in_triple:
                j = line.find('"""', i)
                if j < 0:
                    break
                in_triple, i = False, j + 3
            elif depth:
                o, c = line.find("/*", i), line.find("*/", i)
                if o < 0 and c < 0:
                    break
                if o >= 0 and (c < 0 or o < c):
                    depth, i = depth + 1, o + 2
                else:
                    depth, i = depth - 1, c + 2
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line.startswith("'\"'", i):  # the char literal '"'
                code, i = True, i + 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if code:
            count += 1
    return count


def directory(path):
    """The directory a source file is counted under."""
    rel = path[len(PKG):] if path.startswith(PKG) else path
    return os.path.dirname(rel) or "."


def count_rev(rev):
    """{directory: code lines} of the .scala files under src/main at rev."""
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
                           capture_output=True, text=True, check=True).stdout.split()
    out = Counter()
    for name in names:
        if name.endswith(".scala"):
            text = subprocess.run(["git", "show", f"{rev}:{name}"], capture_output=True,
                                  text=True, check=True).stdout
            out[directory(name)] += code_lines(text)
    return out


def count_worktree(root="."):
    """{directory: code lines} of the .scala files under src/main on disk."""
    out = Counter()
    for d, _, files in os.walk(os.path.join(root, ROOT)):
        for f in files:
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    rel = os.path.relpath(path, root).replace(os.sep, "/")
                    out[directory(rel)] += code_lines(fh.read())
    return out


def table(base, work, rev):
    """Rows of the per-directory report, the total last."""
    rows = [f"{'directory':<20} {rev[:12]:>12} {'worktree':>9} {'delta':>7}"]
    for d in sorted(set(base) | set(work)):
        rows.append(f"{d:<20} {base[d]:>12} {work[d]:>9} {work[d] - base[d]:>+7}")
    b, w = sum(base.values()), sum(work.values())
    rows.append(f"{'total':<20} {b:>12} {w:>9} {w - b:>+7}")
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", help="git revision to compare the worktree with")
    args = ap.parse_args()
    print("\n".join(table(count_rev(args.rev), count_worktree(), args.rev)))


if __name__ == "__main__":
    sys.exit(main())

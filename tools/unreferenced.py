#!/usr/bin/env python3
"""Public Scala names under src/main that no other program file uses.

    python3 tools/unreferenced.py

Lists each non-private, non-`override`, non-`implicit` `object`, `class`,
`trait`, `def` and `val` declared as a member (top level or inside an
object, class or trait body, not inside a method or a lambda) of a file
under src/main/scala whose name appears in no other file under src/main or
irbench/scala. Each line also gives how often the name appears elsewhere in
its own file (0: nothing in the program uses it) and which src/test files
name it; a name only its own unit test uses is reachable from no program
path. Objects with a `def main` are entry points and are skipped, as are
names the compiler calls implicitly (`apply`, `unapply`, `update`).

A name "appears" when it occurs as a word in another file's code or string
literals (comments do not count; a class named only in a config string
still counts as used). The check is by name, not by symbol: a name declared
in two files counts as used by both, so a listed name is unreferenced, but
an unlisted one may still be dead. Run it from the repository root.
"""
import argparse
import os
import re
import sys
from collections import Counter

MAIN = "src/main"
SCALA = "src/main/scala"
BENCH = "irbench/scala"
TEST = "src/test"

WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DECL = re.compile(
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|(?:override|final|sealed|abstract"
    r"|implicit|lazy|case)\s+)*)(object|class|trait|def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")
IMPLICITLY_CALLED = {"apply", "unapply", "update"}
CHAR = re.compile(r"'(?:\\.|[^\\'\n])'")


def _blank(seg):
    """`seg` with every character but newlines replaced by a space."""
    return re.sub(r"[^\n]", " ", seg)


def split_source(text):
    """(code, words) of a Scala source, both with `text`'s line structure:
    `code` has comments, string and char literals blanked (for reading the
    structure); `words` has only the comments blanked (for name lookup)."""
    code, words = [], []
    i, n = 0, len(text)
    while i < n:
        if text.startswith("/*", i):
            j, depth = i, 0
            while j < n:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                    if depth == 0:
                        break
                else:
                    j += 1
            seg = _blank(text[i:j])
            code.append(seg)
            words.append(seg)
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            seg = _blank(text[i:j])
            code.append(seg)
            words.append(seg)
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """…"""" ends at the last quote
                j += 1
            code.append(_blank(text[i:j]))
            words.append(text[i:j])
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
            code.append(_blank(text[i:j]))
            words.append(text[i:j])
        elif text[i] == "'" and CHAR.match(text, i):
            j = CHAR.match(text, i).end()
            code.append(_blank(text[i:j]))
            words.append(text[i:j])
        else:
            j = i + 1
            code.append(text[i])
            words.append(text[i])
        i = j
    return "".join(code), "".join(words)


def declarations(code):
    """[(line, kind, name, modifiers)] of the member declarations in `code`
    (a source with comments and literals blanked), entry points left out.

    A `{` opens a template body when a class, object or trait declaration
    is pending: declared on an earlier line with no `{` yet, and not ended
    by a line at paren depth 0 that the next line does not continue with
    `extends` or `with`. Declarations count only where every enclosing
    brace is a template body."""
    lines = code.split("\n")
    found = []            # (line, kind, name, modifiers, owner)
    stack = []            # (is_template, owner name)
    parens = 0
    pending = None        # name of the template whose `{` is awaited
    entries = set()       # objects with a `def main`
    for no, line in enumerate(lines, 1):
        stripped = line.lstrip()
        m = DECL.match(stripped)
        if m and parens == 0 and all(t for t, _ in stack):
            mods, kind, name = m.group(1), m.group(2), m.group(3)
            owner = stack[-1][1] if stack else None
            found.append((no, kind, name, mods, owner))
            if kind == "def" and name == "main" and owner:
                entries.add(owner)
            if kind in ("object", "class", "trait"):
                pending = name
        for c in line:
            if c in "([":
                parens += 1
            elif c in ")]":
                parens = max(0, parens - 1)
            elif c == "{":
                stack.append((pending is not None, pending))
                pending = None
            elif c == "}" and stack:
                stack.pop()
        if pending is not None and parens == 0:
            nxt = next((l.strip() for l in lines[no:] if l.strip()), "")
            if not re.match(r"(extends|with)\b|\{", nxt):
                pending = None
    return [(no, kind, name, mods) for no, kind, name, mods, owner in found
            if not (kind == "object" and name in entries)
            and not (owner in entries and name == "main")]


def checked(mods, name):
    """Whether a declaration with these modifiers and name is reported."""
    words = mods.split()
    return not ({"private", "private[this]", "override", "implicit"} & set(words)
                or name in IMPLICITLY_CALLED)


def files_under(root, top):
    """Paths (relative to `root`, '/'-separated) of the files under `top`."""
    out = []
    for d, _, names in os.walk(os.path.join(root, top)):
        for f in names:
            out.append(os.path.relpath(os.path.join(d, f), root).replace(os.sep, "/"))
    return sorted(out)


def read(root, path):
    with open(os.path.join(root, path), encoding="utf-8", errors="replace") as fh:
        return fh.read()


def word_counts(root, path):
    """Counter of the words of a file; comments do not count in .scala."""
    text = read(root, path)
    if path.endswith(".scala"):
        text = split_source(text)[1]
    return Counter(WORD.findall(text))


def unreferenced(root="."):
    """[(path, line, kind, name, own_file_uses, [test files])], by path."""
    program = files_under(root, MAIN) + files_under(root, BENCH)
    words = {p: word_counts(root, p) for p in program}
    tests = {p: word_counts(root, p) for p in files_under(root, TEST)
             if p.endswith(".scala")}
    out = []
    for path in program:
        if not (path.startswith(SCALA + "/") and path.endswith(".scala")):
            continue
        for no, kind, name, mods in declarations(split_source(read(root, path))[0]):
            if not checked(mods, name):
                continue
            if any(name in w for p, w in words.items() if p != path):
                continue
            naming = [os.path.basename(p) for p, w in tests.items() if name in w]
            out.append((path, no, kind, name, words[path][name] - 1, naming))
    return out


def report(rows):
    """The printed lines: one per name, then a count."""
    lines = []
    for path, no, kind, name, own, naming in rows:
        rel = path[len(SCALA) + 1:]
        lines.append(f"{rel}:{no}  {kind} {name}  own-file uses {own}"
                     f"  tests: {', '.join(naming) or '-'}")
    dead = sum(1 for r in rows if r[4] == 0)
    lines.append(f"{len(rows)} names used by no other program file; "
                 f"{dead} of them not used in their own file either")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".", help="repository root (default: .)")
    args = ap.parse_args()
    print("\n".join(report(unreferenced(args.root))))


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""List the defs and vals in src/main that nothing else names.

A `def` or `val` is reported when its name, as a whole word, occurs
only on its own definition lines across src/main and the benchmark
harness (rmbench/src): no caller, no registration, no other mention.
Overrides (Spark and listener callbacks) and `main` are skipped, as
are locals (names defined inside a def body are found by the
compiler's -Wunused instead).

The scan is by name, so an overload or a same-named member elsewhere
hides a dead def; check those by hand. A mention in a comment counts
as a use unless --strict is given: then only code counts, so a def
that only scaladoc links to is reported too.

Usage: python3 tools/name_scan.py [--strict] [repo root]
"""
import os
import re
import sys

ARGS = [a for a in sys.argv[1:] if a != "--strict"]
STRICT = "--strict" in sys.argv[1:]
ROOT = ARGS[0] if ARGS else \
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = ["src/main/scala", "rmbench/src"]
DEF = re.compile(r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
                 r"implicit\s+|lazy\s+|override\s+)*)(def|val)\s+"
                 r"([A-Za-z_][A-Za-z0-9_]*)")
# members sit at one or two levels of indentation (object, nested object)
MEMBER_INDENT = 4


def sources(sub):
    for d, _, files in os.walk(os.path.join(ROOT, sub)):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def strip_comments(text):
    """Drop comments: a scaladoc link is not a caller. A block comment
    counts from a line that opens it, a line comment from `//` after
    whitespace, so comment markers inside string literals stay code."""
    text = re.sub(r"(?m)^[ \t]*/\*.*?\*/", " ", text, flags=re.S)
    return re.sub(r"(?m)(^|\s)//[^\n]*", " ", text)


def main():
    texts = {p: open(p, encoding="utf-8").read()
             for sub in CORPUS for p in sources(sub)}
    words = {}
    for text in texts.values():
        if STRICT:
            text = strip_comments(text)
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            words[w] = words.get(w, 0) + 1
    found = []
    for path, text in texts.items():
        if not path.startswith(os.path.join(ROOT, "src/main")):
            continue
        defs = {}
        for n, line in enumerate(text.splitlines(), 1):
            m = DEF.match(line)
            if not m or len(m.group(1)) > MEMBER_INDENT:
                continue
            if "override" in m.group(2) or "implicit" in m.group(2) \
                    or m.group(4) == "main":
                continue
            defs.setdefault(m.group(4), []).append(n)
        for name, lines in defs.items():
            if words.get(name, 0) <= len(lines):
                found.append((os.path.relpath(path, ROOT), lines[0], name))
    for path, line, name in sorted(found):
        print(f"{path}:{line}: {name}")
    print(f"{len(found)} unreached", file=sys.stderr)


if __name__ == "__main__":
    main()

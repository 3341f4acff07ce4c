#!/usr/bin/env python3
"""List src/main definitions that nothing outside their own definition names.

A reading aid, not a gate. For every public or `private[graft]` `def`, `val`,
`var`, `object`, `class`, `trait` or `type` in src/main/scala, count the
whole-word occurrences of its name across src/main/scala and perfbench/src.
A name whose only occurrence is its own definition is printed as
`path:line kind name`. Comments do not count as occurrences; overrides,
members of other access levels, and objects that hold a `def main` (entry
points) are skipped. Names are matched
without their owner, so a `decode` is hidden by any other `decode`.

    python3 tools/unused_defs.py     # from the repo root
"""
import os
import re
import sys
from collections import Counter

ROOTS = ("src/main/scala", "perfbench/src")
DEF = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|sealed|abstract|case|@inline|private\[graft\])\s+)*)"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# string literals are kept whole so a "//" inside one is not a comment
COMMENT = re.compile(r'("""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*")|//[^\n]*|/\*(?:.|\n)*?\*/')
SKIP = {"apply", "unapply", "toString", "equals", "hashCode"}


def scala_files(root):
    for dirpath, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def strip_comments(text):
    """Blank out comments, keeping line breaks so line numbers hold."""
    def blank(m):
        return m.group(1) or re.sub(r"[^\n]", " ", m.group(0))
    return COMMENT.sub(blank, text)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    counts = Counter()
    defs = []
    entry = set()
    last_object = None
    for root in ROOTS:
        for path in scala_files(os.path.join(repo, root)):
            with open(path, encoding="utf-8") as f:
                lines = strip_comments(f.read()).splitlines()
            for i, line in enumerate(lines, 1):
                counts.update(WORD.findall(line))
                if root != ROOTS[0]:
                    continue
                m = DEF.match(line)
                if not m:
                    continue
                if m.group(3) == "main" and m.group(2) == "def":
                    entry.add(last_object)
                elif m.group(3) not in SKIP:
                    defs.append((os.path.relpath(path, repo), i, m.group(2), m.group(3)))
                    if m.group(2) == "object":
                        last_object = m.group(3)
    for path, line, kind, name in defs:
        if counts[name] == 1 and not (kind == "object" and name in entry):
            print(f"{path}:{line} {kind} {name}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Count code and comment lines of the Scala sources.

A code line is a non-blank line with at least one character outside
`//` and `/* ... */` comments (Scala block comments nest; string and
character literals are skipped, so "file://x" is code). A comment line
is a non-blank line whose every non-space character sits inside a
comment. Prints the totals, then one `code comment path` row per file,
largest first.

Usage: python3 tools/sloc.py [root]    (default: src/main/scala)
"""
import os
import signal
import sys


def count(text):
    """(code lines, comment lines) of one Scala source."""
    code = comment = 0
    depth = 0          # block-comment nesting depth carried across lines
    triple = False     # inside a """...""" literal carried across lines
    for line in text.split("\n"):
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if triple:
                has_code = True
                if line.startswith('"""', i):
                    triple = False
                    i += 3
                else:
                    i += 1
            elif depth:
                has_comment = True
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif c.isspace():
                i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
                has_comment = True
            elif line.startswith('"""', i):
                has_code, triple, i = True, True, i + 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                has_code = True  # a character literal such as '"' or '\n'
                i = line.index("'", i + 2) + 1 if line[i + 1] == "\\" else i + 3
            else:
                has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
    return code, comment


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    rows = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append(count(fh.read()) + (os.path.relpath(p, root),))
    code = sum(r[0] for r in rows)
    comment = sum(r[1] for r in rows)
    print(f"{root}: {code:,} code, {comment:,} comment lines in {len(rows)} files")
    for c, m, p in sorted(rows, key=lambda r: (-r[0], r[2])):
        print(f"{c:7d} {m:7d}  {p}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines at a git revision and in the
working tree.

    python3 tools/loc.py REV [DIR ...]

For each DIR (default: src) prints the count at REV, the count in the
working tree and the difference. A line counts when it holds code outside
`//` and `/* ... */` comments; a line with code and a trailing comment
counts. Scaladoc and block comments never count, so deleting comments does
not show up as a smaller program.
"""

import os
import subprocess
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        s = raw.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        while s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                s = ""
            else:
                s = s[end + 2:].strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def at_rev(rev, d):
    total = 0
    for path in git("ls-tree", "-r", "--name-only", rev, "--", d).split("\n"):
        if path.endswith(".scala"):
            total += code_lines(git("show", f"{rev}:{path}"))
    return total


def in_tree(d):
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main(argv):
    if len(argv) < 2 or argv[1] in ("-h", "--help"):
        print(__doc__.strip())
        return 2
    rev, dirs = argv[1], [d.rstrip("/") for d in argv[2:]] or ["src"]
    rows = [(d, at_rev(rev, d), in_tree(d)) for d in dirs]
    if len(rows) > 1:
        rows.append(("total", sum(r[1] for r in rows), sum(r[2] for r in rows)))
    width = max(len(r[0]) for r in rows)
    print(f"{'dir':<{width}}  {rev:>10}  {'worktree':>10}  {'delta':>7}")
    for d, before, after in rows:
        print(f"{d:<{width}}  {before:>10}  {after:>10}  {after - before:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

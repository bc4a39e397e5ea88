#!/usr/bin/env python3
"""Count code lines in the Scala sources under src/main.

    python3 tools/code_lines.py            # per-file counts + total, working tree
    python3 tools/code_lines.py HEAD~1     # ... plus the net change against a git rev

A code line is a line that still holds a non-blank character once `//`
line comments and `/* ... */` block comments (scaladoc included) are
removed. Blank lines and comment-only lines do not count, so deleting a
comment never shows up as code removed. String literals are scanned so a
`//` or `/*` inside quotes is not taken for a comment.
"""
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = "src/main"


def code_lines(text):
    n = 0
    in_block = 0
    for line in text.splitlines():
        code = []
        i = 0
        in_str = None
        while i < len(line):
            c = line[i]
            two = line[i:i + 2]
            if in_block:
                if two == "/*":
                    in_block += 1
                    i += 2
                elif two == "*/":
                    in_block -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                if line.startswith('"""', i) and in_str == '"""':
                    in_str = None
                    i += 3
                elif c == "\\" and in_str == '"':
                    i += 2
                elif c == '"' and in_str == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                code.append("x")
                continue
            if two == "//":
                break
            if two == "/*":
                in_block = 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_str = '"""'
                code.append("x")
                i += 3
                continue
            if c == '"':
                in_str = '"'
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code.append(line[i:i + 3])
                i += 3
                continue
            code.append(c)
            i += 1
        if in_str == '"':  # a single-quoted string never spans lines
            in_str = None
        if "".join(code).strip():
            n += 1
    return n


def tree_counts():
    return {str(p.relative_to(ROOT)): code_lines(p.read_text(encoding="utf-8"))
            for p in sorted((ROOT / SRC).rglob("*.scala"))}


def rev_counts(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", SRC],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout.split()
    out = {}
    for name in names:
        if name.endswith(".scala"):
            text = subprocess.run(["git", "show", f"{rev}:{name}"], cwd=ROOT,
                                  check=True, capture_output=True,
                                  text=True).stdout
            out[name] = code_lines(text)
    return out


def main():
    now = tree_counts()
    if len(sys.argv) < 2:
        for name, n in now.items():
            print(f"{n:7d}  {name}")
        print(f"{sum(now.values()):7d}  total")
        return
    rev = sys.argv[1]
    then = rev_counts(rev)
    print(f"{'now':>7}  {'net':>7}  file (net against {rev})")
    for name in sorted(set(now) | set(then)):
        a, b = then.get(name, 0), now.get(name, 0)
        mark = "" if name in now else "  (deleted)"
        print(f"{b:7d}  {b - a:+7d}  {name}{mark}")
    total_a, total_b = sum(then.values()), sum(now.values())
    print(f"{total_b:7d}  {total_b - total_a:+7d}  total (was {total_a})")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Count the lines of the main Scala sources.

Usage: python3 tools/loc.py   (from any directory; takes no options)

Counts every src/main/**/*.scala file of the repository this script
lives in and prints two numbers:
  code   non-blank lines whose first non-space characters are not
         `//`, `/*` or `*` (comment and scaladoc lines are not code)
  total  all lines
"""
from pathlib import Path

root = Path(__file__).resolve().parent.parent
code = total = 0
for path in sorted((root / "src" / "main").rglob("*.scala")):
    for line in path.read_text(encoding="utf-8").splitlines():
        total += 1
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            code += 1
print(f"code {code}")
print(f"total {total}")

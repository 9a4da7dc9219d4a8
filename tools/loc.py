#!/usr/bin/env python3
"""Count the code lines of the engine: non-blank lines of every `.scala`
file under `src/main` that are not comments, per file and in total.

A line is not counted when, after stripping whitespace, it is empty,
starts with `//`, or lies inside a `/* ... */` block (scaladoc included).
Code after a block's closing `*/` on the same line still counts.

Usage: python3 tools/loc.py [root]   (root defaults to the repository root)
"""
import pathlib
import sys


def code_lines(lines):
    n = 0
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        elif s.startswith("/*"):
            if "*/" not in s:
                in_block = True
                continue
            s = s.split("*/", 1)[1].strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def main(argv):
    root = pathlib.Path(argv[1]) if len(argv) > 1 else pathlib.Path(__file__).resolve().parent.parent
    src = root / "src" / "main"
    total = 0
    for path in sorted(src.rglob("*.scala")):
        n = code_lines(path.read_text(encoding="utf-8").splitlines())
        total += n
        print(f"{n:7d}  {path.relative_to(root)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv)

#!/usr/bin/env python3
"""Code-surface counts for before/after comparisons of a change.

Prints the non-blank, non-comment Scala lines of src/main, src/test and
etl/TxParquetSink.scala, the number of top-level `main` entry points
in src/main, the number of public TxParquetSink members, and the
number of src/main code lines that call `Files.createLink` or use
`ATOMIC_MOVE` (the hand-written atomic file writes). A line
counts as comment when, stripped, it starts with `//`, `/*` or `*`
(scaladoc bodies and closers); code followed by a trailing comment
counts as code. A public member is a declaration (def, val, var, class,
object, trait, type) at two-space indent, i.e. in the class or its
companion, that is not `private` (nor `private[...]`).

Usage: python3 tools/surface.py [repo-root]   (default: the current dir)
"""
import os
import re
import sys

SINK = os.path.join("src", "main", "scala", "graft", "etl", "TxParquetSink.scala")
MAIN = re.compile(r"^\s*def main\(")
MEMBER = re.compile(r"^  (?:(?:final|override|implicit|lazy|sealed|abstract|case)\s+)*"
                    r"(?:def|val|var|class|object|trait|type)\b")


def scala_files(top):
    for d, _, names in os.walk(top):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for l in f
                   if l.strip() and not l.strip().startswith(("//", "/*", "*")))


def mains(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for l in f if MAIN.match(l))


def public_members(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for l in f if MEMBER.match(l))


def code_lines_with(path, needle):
    with open(path, encoding="utf-8") as f:
        return sum(1 for l in f
                   if needle in l and l.strip()
                   and not l.strip().startswith(("//", "/*", "*")))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    src_main = os.path.join(root, "src", "main")
    src_test = os.path.join(root, "src", "test")
    print(f"src/main code lines: {sum(map(code_lines, scala_files(src_main))):,}")
    print(f"src/test code lines: {sum(map(code_lines, scala_files(src_test))):,}")
    print(f"TxParquetSink.scala code lines: {code_lines(os.path.join(root, SINK)):,}")
    print(f"top-level mains: {sum(map(mains, scala_files(src_main)))}")
    print(f"TxParquetSink public members: {public_members(os.path.join(root, SINK))}")
    for needle in ("Files.createLink(", "ATOMIC_MOVE"):
        n = sum(code_lines_with(p, needle) for p in scala_files(src_main))
        print(f"src/main lines with {needle.rstrip('(')}: {n}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Print the src/main line delta of the working tree against a git ref,
per file and in total, split into code, comment and blank lines.

    python3 tools/main_lines.py <git-ref> [path ...]

Paths default to src/main. A line is blank when it holds only
whitespace, a comment line when it lies inside a /* */ block or starts
with //, and a code line otherwise (a code line with a trailing comment
counts as code). Only files that changed are listed.
"""
import os
import subprocess
import sys

KINDS = ("code", "comment", "blank")


def classify(text):
    """(code, comment, blank) line counts of Scala/Java source text."""
    counts = dict.fromkeys(KINDS, 0)
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            counts["comment"] += 1
            if "*/" in s:
                in_block = False
                if s.split("*/", 1)[1].strip():
                    counts["comment"] -= 1
                    counts["code"] += 1
        elif not s:
            counts["blank"] += 1
        elif s.startswith("//"):
            counts["comment"] += 1
        elif s.startswith("/*"):
            counts["comment"] += 1
            in_block = "*/" not in s[2:]
        else:
            counts["code"] += 1
    return tuple(counts[k] for k in KINDS)


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def files_at(ref, paths):
    out = git("ls-tree", "-r", "--name-only", ref, "--", *paths)
    return {f for f in out.splitlines() if f.endswith((".scala", ".java"))}


def files_now(paths):
    found = set()
    for p in paths:
        for root, _, names in os.walk(p):
            found.update(os.path.join(root, n) for n in names
                         if n.endswith((".scala", ".java")))
    return found


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    ref, paths = argv[1], argv[2:] or ["src/main"]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    before, after = files_at(ref, paths), files_now(paths)
    rows, total = [], [0, 0, 0]
    for f in sorted(before | after):
        old = classify(git("show", f"{ref}:{f}")) if f in before else (0, 0, 0)
        new = classify(open(f, encoding="utf-8").read()) if f in after else (0, 0, 0)
        d = [n - o for n, o in zip(new, old)]
        if any(d):
            rows.append((f, d))
            total = [t + x for t, x in zip(total, d)]
    print(f"{'code':>7} {'comment':>8} {'blank':>6}  file (vs {ref})")
    for f, d in rows:
        print(f"{d[0]:+7d} {d[1]:+8d} {d[2]:+6d}  {f}")
    print(f"{total[0]:+7d} {total[1]:+8d} {total[2]:+6d}  total "
          f"({sum(total):+d} lines)")


if __name__ == "__main__":
    main(sys.argv)

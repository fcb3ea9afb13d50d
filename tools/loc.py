#!/usr/bin/env python3
"""Count code, comment and blank lines per Scala file under src/main.

A line is blank when it holds only whitespace; a comment line when it holds
only a `//` comment or lies inside a `/* ... */` block (Scaladoc included);
every other line is code (a code line with a trailing comment is code).

    python3 tools/loc.py                 # the working tree
    python3 tools/loc.py --base HEAD~    # plus the delta against a revision

With `--base <rev>`, each file is also read as `git show <rev>:<path>` (no
checkout) and the table gains the delta per column; files added or deleted
since the revision count as zero on the missing side.
"""
import argparse
import os
import subprocess
import sys

ROOT = "src/main"


def count(text):
    """(code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
                if s.split("*/", 1)[1].strip():
                    comment -= 1
                    code += 1
            continue
        if not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            rest = s[2:]
            if "*/" in rest:
                if rest.split("*/", 1)[1].strip():
                    comment -= 1
                    code += 1
            else:
                in_block = True
        else:
            code += 1
    return code, comment, blank


def tree_files(repo):
    out = []
    for d, _, names in os.walk(os.path.join(repo, ROOT)):
        out += [os.path.relpath(os.path.join(d, n), repo)
                for n in names if n.endswith(".scala")]
    return sorted(out)


def base_files(repo, rev):
    res = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
                         cwd=repo, capture_output=True, text=True, check=True)
    return sorted(p for p in res.stdout.split() if p.endswith(".scala"))


def base_text(repo, rev, path):
    res = subprocess.run(["git", "show", f"{rev}:{path}"], cwd=repo,
                         capture_output=True, text=True, check=True)
    return res.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git revision to diff against")
    ap.add_argument("--repo", default=".", help="repository root (default .)")
    args = ap.parse_args()
    repo = args.repo

    now = {}
    for p in tree_files(repo):
        with open(os.path.join(repo, p), encoding="utf-8") as f:
            now[p] = count(f.read())
    before = {}
    if args.base:
        for p in base_files(repo, args.base):
            before[p] = count(base_text(repo, args.base, p))

    paths = sorted(set(now) | set(before))
    zero = (0, 0, 0)
    width = max([len(p) for p in paths] + [5])
    if args.base:
        print(f"{'file':<{width}} {'code':>7} {'comment':>8} {'blank':>6} "
              f"{'total':>7}   {'Δcode':>6} {'Δcomment':>8} {'Δblank':>6} {'Δtotal':>6}")
    else:
        print(f"{'file':<{width}} {'code':>7} {'comment':>8} {'blank':>6} {'total':>7}")
    tot_now, tot_before = [0, 0, 0], [0, 0, 0]
    for p in paths:
        a = now.get(p, zero)
        b = before.get(p, zero)
        for i in range(3):
            tot_now[i] += a[i]
            tot_before[i] += b[i]
        if args.base:
            if a == b:
                continue
            d = [a[i] - b[i] for i in range(3)]
            print(f"{p:<{width}} {a[0]:>7} {a[1]:>8} {a[2]:>6} {sum(a):>7}   "
                  f"{d[0]:>+6} {d[1]:>+8} {d[2]:>+6} {sum(d):>+6}")
        else:
            print(f"{p:<{width}} {a[0]:>7} {a[1]:>8} {a[2]:>6} {sum(a):>7}")
    a, b = tot_now, tot_before
    if args.base:
        d = [a[i] - b[i] for i in range(3)]
        print(f"{'total':<{width}} {a[0]:>7} {a[1]:>8} {a[2]:>6} {sum(a):>7}   "
              f"{d[0]:>+6} {d[1]:>+8} {d[2]:>+6} {sum(d):>+6}")
    else:
        print(f"{'total':<{width}} {a[0]:>7} {a[1]:>8} {a[2]:>6} {sum(a):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

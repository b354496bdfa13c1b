#!/usr/bin/env python3
"""Scala line counts between two revisions, per file and per tree.

    python3 tools/loc.py REV_A REV_B

For every .scala file under src/main and src/test that differs between
the revisions it prints all lines and code lines (neither blank nor
comment) at each side and the delta, then the totals of each tree.
"""
import subprocess
import sys

TREES = ("src/main", "src/test")


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout


def counts(rev):
    """{path: (all lines, code lines)} of the Scala files at `rev`."""
    out = {}
    for path in git("ls-tree", "-r", "--name-only", rev, "--", *TREES).split():
        if not path.endswith(".scala"):
            continue
        lines = git("show", f"{rev}:{path}").splitlines()
        code, in_block = 0, False
        for line in (l.strip() for l in lines):
            if in_block:
                in_block = "*/" not in line
            elif line.startswith("/*"):
                in_block = "*/" not in line
            elif line and not line.startswith("//"):
                code += 1
        out[path] = (len(lines), code)
    return out


def main(rev_a, rev_b):
    a, b = counts(rev_a), counts(rev_b)
    totals = {t: [0, 0, 0, 0] for t in TREES}
    print(f"{'file':<60} {'all A->B (delta)':>22} {'code A->B (delta)':>22}")
    for path in sorted(set(a) | set(b)):
        (la, ca), (lb, cb) = a.get(path, (0, 0)), b.get(path, (0, 0))
        t = totals[next(t for t in TREES if path.startswith(t))]
        for i, v in enumerate((la, lb, ca, cb)):
            t[i] += v
        if (la, ca) != (lb, cb):
            print(f"{path:<60} {f'{la}->{lb} ({lb - la:+d})':>22} {f'{ca}->{cb} ({cb - ca:+d})':>22}")
    for tree, (la, lb, ca, cb) in totals.items():
        print(f"{'TOTAL ' + tree:<60} {f'{la}->{lb} ({lb - la:+d})':>22} {f'{ca}->{cb} ({cb - ca:+d})':>22}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])

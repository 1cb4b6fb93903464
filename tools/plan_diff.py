#!/usr/bin/env python3
"""Compare two `graft.tools.DumpPlans` output directories query by query.

    python3 tools/plan_diff.py <dirA> <dirB>

DumpPlans writes one `<query>_<tag>.txt` per query (the tag carries no
underscore), so the two dirs may use different tags ("before"/"after").
Before comparing, every plan is normalized for the ids Spark hands out
per session: `#<n>` expression ids, `[plan_id=<n>]`, RDD ids
(`MapPartitionsRDD[<n>]`), `<File>.scala:<line>` call sites, lambda
variable names (`lambda x_<n>`, numbered per JVM), the seeds of
`rand(<seed>)` / `randn(<seed>)`, which are drawn per plan when no seed
is given, JVM lambda class names with their identity hashes
(`$$Lambda$<n>/0x<addr>@<hash>`) and UUIDs, which name the per-session
scratch directories.

Prints one line per query: SAME, DIFF (followed by the first differing
lines of a unified diff), or MISSING when only one dir has the query.
A DIFF whose numbered operator list is unchanged says so
("operators same"), which separates renamed columns or changed
expressions from a changed plan shape. Exits 1 when any query is not
SAME.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=n]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    # anchored at a word start: unanchored, `\w+` retries from every
    # offset of a long literal (a serialized bloom filter) and the scan
    # goes quadratic
    (re.compile(r"(?<!\w)(\w+\.scala):\d+"), r"\1:n"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_n"),
    (re.compile(r"(?<!\w)(randn?)\(-?\d+L?\)"), r"\1(n)"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda$n"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
]
OPERATOR = re.compile(r"^\(\d+\) .+")
SHOWN = 12


def plans(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def normalized(path):
    with open(path) as fh:
        lines = fh.read().splitlines()
    for pat, rep in NORMALIZE:
        lines = [pat.sub(rep, l) for l in lines]
    return lines


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: plan_diff.py <dirA> <dirB>")
    a, b = plans(argv[1]), plans(argv[2])
    clean = True
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"MISSING {q} (only in {argv[1] if q in a else argv[2]})")
            clean = False
            continue
        la, lb = normalized(a[q]), normalized(b[q])
        if la == lb:
            print(f"SAME {q}")
            continue
        clean = False
        ops = [l for l in la if OPERATOR.match(l)] == [l for l in lb if OPERATOR.match(l)]
        print(f"DIFF {q}" + (" (operators same)" if ops else ""))
        diff = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
                if not l.startswith(("---", "+++", "@@"))]
        for l in diff[:SHOWN]:
            print(f"    {l}")
    sys.exit(0 if clean else 1)


if __name__ == "__main__":
    main(sys.argv)

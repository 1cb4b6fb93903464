#!/usr/bin/env python3
"""Compare the table rows of two pg_dump directory archives.

    python3 tools/archive_rows.py <dirA> <dirB>

Each archive is decoded with `pg_restore --data-only -f -` (the native
tool, so the comparison does not trust this repository's own reader).
The COPY blocks of the script are grouped by table, and each table's
data lines are compared as a sorted multiset: payload byte order and
member layout do not matter, row content does.

Prints one line per table: SAME or DIFF with both row counts, or
MISSING when only one archive has the table. Exits 1 when any table is
not SAME.
"""
import re
import subprocess
import sys
from collections import defaultdict

PG_RESTORE = "/usr/bin/pg_restore"
COPY = re.compile(r"^COPY (\S+) .*FROM stdin;$")


def tables(archive):
    script = subprocess.run([PG_RESTORE, "--data-only", "-f", "-", archive],
                            check=True, capture_output=True).stdout.decode("utf-8")
    rows = defaultdict(list)
    table = None
    for line in script.split("\n"):
        if table is None:
            m = COPY.match(line)
            if m:
                table = m.group(1)
                rows[table]  # a table with no rows still counts
        elif line == "\\.":
            table = None
        else:
            rows[table].append(line)
    return {t: sorted(ls) for t, ls in rows.items()}


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: archive_rows.py <dirA> <dirB>")
    a, b = tables(argv[1]), tables(argv[2])
    clean = True
    for t in sorted(set(a) | set(b)):
        if t not in a or t not in b:
            print(f"MISSING {t} (only in {argv[1] if t in a else argv[2]})")
            clean = False
        elif a[t] == b[t]:
            print(f"SAME {t} rows={len(a[t])}")
        else:
            print(f"DIFF {t} rows={len(a[t])} vs {len(b[t])}")
            clean = False
    sys.exit(0 if clean else 1)


if __name__ == "__main__":
    main(sys.argv)

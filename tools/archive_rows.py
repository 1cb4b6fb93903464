#!/usr/bin/env python3
"""Compare the contents of two pg_dump directory archives.

    python3 tools/archive_rows.py <dirA> <dirB>

Each archive is decoded with the native tools (`pg_restore --data-only
-f -` and `pg_restore -l`), so the comparison does not trust this
repository's own reader. Three groups are compared:

- table rows: the COPY blocks of the data script, grouped by table, each
  table's data lines as a sorted multiset (payload byte order and member
  layout do not matter, row content does);
- statements: every other statement of the data script (the `setval`
  lines of SEQUENCE SET entries, large-object writes, session SETs) as
  one sorted multiset;
- listing: the `pg_restore -l` entries as (desc, namespace, tag, owner)
  in file order, dump ids and oids ignored.

Prints one line per table (SAME or DIFF with both row counts, or MISSING
when only one archive has the table), then one line for the statements
and one for the listing. Exits 1 when any line is not SAME.
"""
import re
import subprocess
import sys
from collections import defaultdict

PG_RESTORE = "/usr/bin/pg_restore"
COPY = re.compile(r"^COPY (\S+) .*FROM stdin;$")
# `<dumpId>; <tableoid> <oid> <desc> <namespace> <tag> <owner>`
LISTED = re.compile(r"^\d+; \d+ \d+ (.*)$")


def pg_restore(args, archive):
    return subprocess.run([PG_RESTORE] + args + [archive], check=True,
                          capture_output=True).stdout.decode("utf-8")


def data_script(archive):
    """(rows per table, sorted other statements) of the data script."""
    rows = defaultdict(list)
    statements = []
    table = None
    for line in pg_restore(["--data-only", "-f", "-"], archive).split("\n"):
        if table is None:
            m = COPY.match(line)
            if m:
                table = m.group(1)
                rows[table]  # a table with no rows still counts
            # comments, blank lines and the per-run random `\restrict`
            # key are not statements
            elif line.strip() and not line.startswith(("--", "\\restrict", "\\unrestrict")):
                statements.append(line)
        elif line == "\\.":
            table = None
        else:
            rows[table].append(line)
    return {t: sorted(ls) for t, ls in rows.items()}, sorted(statements)


def listing(archive):
    return [m.group(1) for m in map(LISTED.match, pg_restore(["-l"], archive).split("\n")) if m]


def compare(what, a, b):
    if a == b:
        print(f"SAME {what} n={len(a)}")
        return True
    print(f"DIFF {what} n={len(a)} vs {len(b)}")
    return False


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: archive_rows.py <dirA> <dirB>")
    (a, stmts_a), (b, stmts_b) = data_script(argv[1]), data_script(argv[2])
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
    clean &= compare("statements", stmts_a, stmts_b)
    list_a, list_b = listing(argv[1]), listing(argv[2])
    if not compare("listing", list_a, list_b):
        clean = False
        first = next((i for i, (x, y) in enumerate(zip(list_a, list_b)) if x != y),
                     min(len(list_a), len(list_b)))
        print(f"  first difference at entry {first}: "
              f"{list_a[first:first + 1]} vs {list_b[first:first + 1]}")
    sys.exit(0 if clean else 1)


if __name__ == "__main__":
    main(sys.argv)

#!/usr/bin/env python3
"""Records the golden output digests of the `operators` workload.

    python3 perfbench/record_golden.py

Run it from the repository root after a change that is meant to alter a
battery query's output. It writes the battery's generated input, runs
every registered query on it through `graft.Verify`, compares them with
the DuckDB oracle (`tools/local_check.py`), and only when every battery
query passes writes `perfbench/golden/battery-sf<sf>.json`.
"""
import argparse
import json
import os
import re
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SF = 0.001  # Main.BatterySf


def main():
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench", "work", "golden")
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = str(len(os.sched_getaffinity(0)))
    out = subprocess.run(run.java_cmd(root, work, "perfbench.Main",
                                      ["golden", "0", "0", "0", work, cores, "-", "-"]),
                         cwd=root, check=True, stdout=subprocess.PIPE, text=True).stdout
    digests = json.loads(out.strip().splitlines()[-1])["digests"]
    fixture = os.path.join(work, "fixture")
    verify = os.path.join(work, "verify")
    subprocess.run(run.java_cmd(root, work, "graft.Verify", [fixture, verify]),
                   cwd=root, check=True, stdout=sys.stderr)
    check = subprocess.run([sys.executable, "tools/local_check.py", fixture, verify],
                           cwd=root, stdout=subprocess.PIPE, text=True).stdout
    passed = set(re.findall(r"^\[check\] (\S+)\s+PASS", check, re.M))
    failed = sorted(q for q in digests if q not in passed)
    if failed:
        print(check, file=sys.stderr)
        raise SystemExit(f"oracle did not pass: {' '.join(failed)}; golden digests not written")
    path = os.path.join(root, "perfbench", "golden", f"battery-sf{SF}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"fixture_seed": 42, "sf": SF, "digests": digests}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path} ({len(digests)} queries)")


if __name__ == "__main__":
    main()

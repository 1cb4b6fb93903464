#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run it from the repository root. For each workload in BENCHMARK.json it
runs `run.py` untraced and traced with a one-second measuring window,
and checks that

  * the last line has exactly `correct`, `attempted`, `failed`, `metrics`;
  * untraced runs print every end-to-end metric and traced runs every
    per-layer metric, each with the unit BENCHMARK.json gives it;
  * every correctness check passed (`correct`, `failed` = 0);
  * the known `NoiseDate` defect still reproduces: the traced
    `subset-mask-restore` run reports `pipeline.noise_date_defect` = 1.
    When the program is fixed this reads 0 and the self-test says so.
"""
import json
import os
import subprocess
import sys


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", trace]
            p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(r)}")
            if r["correct"] is not True or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: correct={r['correct']} failed={r['failed']} "
                                f"attempted={r['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong units {units}")
            if trace == "1" and w["name"] == "subset-mask-restore":
                defect = r["metrics"].get("pipeline.noise_date_defect", {}).get("value")
                if defect != 1:
                    problems.append(f"{tag}: NoiseDate defect no longer reproduces "
                                    f"(pipeline.noise_date_defect={defect})")
            print(f"selftest {tag}: done", file=sys.stderr)
    for line in problems:
        print(f"FAIL {line}")
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

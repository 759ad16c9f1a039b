#!/usr/bin/env python3
"""Quick self-test of the benchmark harness: runs every workload briefly on
the sf0.001 fixtures, untraced and traced, and asserts that each run exits
0, passes every check, and emits every BENCHMARK.json metric with its unit
and a finite value.

Usage (from the repo root): python3 perfbench/selftest.py
"""
import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, *spec["command"][1:], "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}: {p.stderr.strip()[-500:]}")
            else:
                out = json.loads(p.stdout.strip().splitlines()[-1])
                if set(out) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(out)}")
                if not out["correct"] or out["failed"] or out["attempted"] < 1:
                    problems.append(f"correct={out['correct']} failed={out['failed']} "
                                    f"attempted={out['attempted']}")
                want = spec["per_layer"] if trace else spec["end_to_end"]
                got = out["metrics"]
                if list(got) != [m["name"] for m in want]:
                    problems.append(f"metrics {sorted(set(got) ^ {m['name'] for m in want})}")
                for m in want:
                    v = got.get(m["name"], {})
                    if v.get("unit") != m["unit"] or not isinstance(v.get("value"), float) \
                            or not math.isfinite(v["value"]):
                        problems.append(f"{m['name']}: {v}")
                    elif not trace and v["value"] <= 0:
                        problems.append(f"{m['name']} is {v['value']}")
                problems += [ln for ln in p.stdout.splitlines() if ln.startswith("# check FAIL")]
            print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={trace}")
            for x in problems:
                print(f"     {x}")
            bad += bool(problems)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

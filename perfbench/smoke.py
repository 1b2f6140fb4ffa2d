"""Smoke run: every workload at tiny size, untraced and traced, checked
against the output contract and the metric lists in BENCHMARK.json.

    python3 perfbench/smoke.py

Run from the root of a checkout; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import subprocess
import sys

SECONDS = "4"


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    declared = {
        "0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in ("0", "1"):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", SECONDS,
                "--trace", trace, "--size", "smoke",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
            if proc.returncode != 0:
                print(proc.stderr[-4000:], file=sys.stderr)
                print(f"FAIL {w['name']} trace={trace}: exit {proc.returncode}")
                return 1
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"gates {out['attempted']} attempted, {out['failed']} failed")
            if got != declared[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: {set(got) ^ set(declared[trace])}")
            status = "; ".join(problems) or "ok"
            print(f"{w['name']} trace={trace}: {status}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

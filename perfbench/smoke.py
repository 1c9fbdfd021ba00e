"""Smoke test of the benchmark: every workload at tiny size, untraced and
traced, checked against the metric names and units in BENCHMARK.json.

    python3 perfbench/smoke.py            # from the repository root

Exits 1 on the first mismatch, a failed output check, or a run that does
not end with the result line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import SIZES  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for workload in SIZES:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", workload, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            label = f"{workload} trace={trace}"
            if proc.returncode != 0 or not lines:
                print(f"FAIL {label}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                return 1
            result = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if got != want[trace]:
                problems.append(
                    f"missing {sorted(set(want[trace]) - set(got))}, "
                    f"extra {sorted(set(got) - set(want[trace]))}, "
                    f"unit differs {sorted(k for k in got.keys() & want[trace].keys() if got[k] != want[trace][k])}")
            if not result["correct"] or result["failed"]:
                problems.append(f"checks failed: {lines[-2][:2000]}")
            print(("FAIL " if problems else "ok   ") + label
                  + "".join("\n  " + p for p in problems))
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

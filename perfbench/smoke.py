"""Smoke check of the benchmark: every workload in BENCHMARK.json runs once
untraced and once traced at a tiny size; the metric names and units it
prints must be exactly those BENCHMARK.json declares, and the output checks
must pass.

    python3 perfbench/smoke.py        # about four minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or not lines:
                problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
            else:
                out = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if set(out) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(out)}")
                if got != want[trace]:
                    problems.append(
                        f"metrics differ from BENCHMARK.json: missing "
                        f"{sorted(set(want[trace]) - set(got))}, extra "
                        f"{sorted(set(got) - set(want[trace]))}, units "
                        f"{sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])}"
                    )
                if not out["correct"] or out["failed"]:
                    problems.append(f"output checks failed: {out['failed']} of {out['attempted']}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Smoke check of the benchmark itself, on sf0.001 tables.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced for a short
window and asserts that the result line carries every named metric with
its unit and that no operation failed. Exits non-zero on the first
violation.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path


def main() -> int:
    here = Path(__file__).resolve().parent
    spec = json.loads((here.parent / "BENCHMARK.json").read_text())
    script = here / "run.py"
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(script), "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--smoke"]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=600)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                print(out.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {w['name']} trace={trace}: exit "
                      f"{out.returncode}", file=sys.stderr)
                return 1
            res, detail = json.loads(lines[-1]), json.loads(lines[-2])
            problems = [f"{m['name']} missing or not in {m['unit']}"
                        for m in names
                        if res["metrics"].get(m["name"], {}).get("unit")
                        != m["unit"]]
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"result keys {sorted(res)}")
            if res["failed"] or detail["failed_frac"] != 0 \
                    or not res["correct"]:
                problems.append(f"failed {res['failed']} of "
                                f"{res['attempted']}")
            if problems:
                print(out.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {w['name']} trace={trace}: {problems}",
                      file=sys.stderr)
                return 1
            print(f"ok {w['name']} trace={trace}: {res['attempted']} ops, "
                  f"{len(res['metrics'])} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())

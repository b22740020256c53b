"""End-to-end checks of the command-line tools kept beside the engine:
the benchmark's own smoke check and the scale probe's argument
validation. Both run the real scripts as subprocesses."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_perfbench_smoke_passes():
    """perfbench/smoke.py runs every BENCHMARK.json workload untraced and
    traced on sf0.001 and exits non-zero on a renamed batch key, a
    missing metric or any failed operation."""
    p = subprocess.run(
        [sys.executable, str(REPO / "perfbench" / "smoke.py")],
        capture_output=True, text=True, timeout=1200)
    assert p.returncode == 0, (p.stdout + p.stderr)[-3000:]


def test_scale_probe_rejects_unknown_key_before_spark():
    """A typo'd --keys entry must fail before any JVM starts, naming the
    key, rather than probe nothing and report an empty run. A JVM
    start-up would not fit the timeout."""
    p = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "scale_probe.py"),
         "--keys", "q_no_such_key"],
        capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert "q_no_such_key" in p.stderr + p.stdout

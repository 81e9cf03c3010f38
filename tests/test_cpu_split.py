"""Smoke test of scripts/cpu_split.py on a short command without a JVM."""

import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "cpu_split.py"
)


def test_cpu_split_runs_a_command_and_prints_every_group():
    out = subprocess.run(
        [sys.executable, SCRIPT, "--", sys.executable, "-c",
         "import sys, time; time.sleep(0.5); sys.exit(3)"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3
    for label in ("JVMs: 0", "jit", "gc", "stream execution", "executor tasks",
                  "rest", "JVM reaped children", "Python workers"):
        assert label in out.stdout

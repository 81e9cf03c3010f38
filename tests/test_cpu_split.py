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
         "import sys, time; t = time.process_time() + 0.3\n"
         "while time.process_time() < t: pass\n"
         "sys.exit(3)"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3
    for label in ("JVMs: 0", "jit", "gc", "stream execution", "executor tasks",
                  "rest", "JVM reaped children", "Python workers", "driver"):
        assert label in out.stdout
    # the command's own CPU time: its 0.3 s busy loop and its start-up
    driver = next(line for line in out.stdout.splitlines() if line.startswith("driver"))
    assert float(driver.split()[1]) >= 0.3

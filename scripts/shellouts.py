#!/usr/bin/env python3
"""Count the processes a command's JVMs start for Hadoop's shell calls.

    python scripts/shellouts.py -- python3 perfbench/run.py --workload gmm_stream --seed 1

Without its native library, Hadoop's local filesystem runs ``readlink``,
``chmod``, ``ls`` and ``stat`` as child processes.  This script puts a
logging wrapper for each of those commands first on ``PATH`` (each one
appends its arguments to a log, then ``exec``s the real binary), runs the
command, and prints how many calls each command made, split by the area
of the path it named: ``offsets``, ``commits``, ``sources`` and
``state`` for the parts of a streaming checkpoint, ``sink`` for files a
Spark file writer makes (``part-`` files, ``_temporary`` and
``.spark-staging-`` directories, ``_SUCCESS``), and ``other`` for the
rest (the ``spark-submit`` scripts call ``ls`` too).  Every call is
counted, however short it lives; ``scripts/cpu_split.py`` sees only the
children that live across one of its samples.  It exits with the
command's exit status.  Standard library only, POSIX ``sh``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter

COMMANDS = ("readlink", "chmod", "ls", "stat")
CHECKPOINT_AREAS = ("offsets", "commits", "sources", "state")
AREAS = CHECKPOINT_AREAS + ("sink", "other")
SINK_MARKS = ("part-", ".part-", "_temporary", ".spark-staging-", "_SUCCESS", "._SUCCESS")


def install_wrappers(bin_dir: str, log_path: str) -> dict:
    """Write a logging wrapper for each of ``COMMANDS`` into ``bin_dir``
    and return a copy of the environment with ``bin_dir`` first on
    ``PATH``.  A call logs one line: the command name and its arguments,
    tab-separated."""
    os.makedirs(bin_dir, exist_ok=True)
    for cmd in COMMANDS:
        real = shutil.which(cmd)
        if real is None:
            continue
        wrapper = os.path.join(bin_dir, cmd)
        with open(wrapper, "w") as f:
            f.write(
                "#!/bin/sh\n"
                f"line={cmd}\n"
                'for a do line="$line\t$a"; done\n'
                f"printf '%s\\n' \"$line\" >> {shlex.quote(log_path)}\n"
                f'exec {shlex.quote(real)} "$@"\n'
            )
        os.chmod(wrapper, 0o755)
    env = dict(os.environ)
    env["PATH"] = bin_dir + os.pathsep + env.get("PATH", "")
    return env


def read_log(log_path: str) -> list:
    """The logged calls, as ``(command, [args])`` in call order."""
    if not os.path.exists(log_path):
        return []
    with open(log_path) as f:
        return [
            (fields[0], fields[1:])
            for fields in (line.rstrip("\n").split("\t") for line in f)
        ]


def area_of(path: str) -> str:
    parts = path.split("/")
    for part in parts:
        if part in CHECKPOINT_AREAS:
            return part
    if any(part.startswith(SINK_MARKS) for part in parts):
        return "sink"
    return "other"


def report(calls: list) -> str:
    """One row per command, one column per path area; a call is charged
    to the area of its last argument (the path for all four commands)."""
    counts = Counter((cmd, area_of(args[-1] if args else "")) for cmd, args in calls)
    lines = [f"{'command':<10}" + "".join(f"{a:>9}" for a in AREAS + ("total",))]
    for cmd in COMMANDS:
        row = [counts[cmd, a] for a in AREAS]
        lines.append(f"{cmd:<10}" + "".join(f"{n:>9}" for n in row + [sum(row)]))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("command", nargs=argparse.REMAINDER, help="-- command [args...]")
    args = ap.parse_args(argv)
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")
    with tempfile.TemporaryDirectory(prefix="shellouts-") as tmp:
        log_path = os.path.join(tmp, "calls.log")
        env = install_wrappers(os.path.join(tmp, "bin"), log_path)
        t0 = time.monotonic()
        returncode = subprocess.run(command, env=env).returncode
        calls = read_log(log_path)
    print(
        f"shellouts: {time.monotonic() - t0:.1f} s wall, exit {returncode}, "
        f"{len(calls)} calls"
    )
    print(report(calls))
    return returncode


if __name__ == "__main__":
    sys.exit(main())

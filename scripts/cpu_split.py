#!/usr/bin/env python3
"""Split the CPU time of a command's Spark processes by JVM thread group,
JVM child processes and Python workers.

    python scripts/cpu_split.py -- python3 perfbench/run.py --workload gmm_stream --seed 1

Runs the command, samples ``/proc`` every 0.2 s until it exits, and
prints the CPU seconds (user + system) of:

- each JVM among the command's descendants, by thread group: JIT
  compiler threads, garbage-collector threads, the structured-streaming
  ``stream execution`` thread, executor task threads, and the rest (the
  JVM's total minus those groups, so it includes threads that exited);
- the child processes the JVMs spawned and reaped (Hadoop runs
  ``readlink``/``chmod`` as processes when its native library is
  missing), with the number of distinct ones seen;
- the Python worker processes below the JVMs (Spark's worker daemon and
  the workers it forks);
- the ``driver``: the command's own process, which for a PySpark
  program is the Spark driver's Python.  Its CPU time is exact, read
  once it has exited and before it is reaped.

A thread or process is charged with its CPU time at the last sample it
was seen in, so up to 0.2 s of a thread that exits is lost, and a child
process that lives for less than one interval is seen only by chance:
the count of spawned children is a lower bound.  Their CPU time is
exact, read from the JVM's reaped-children counters.  It exits with the
command's exit status.  Standard library only, Linux only.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.2
# thread name prefixes (Linux keeps the first 15 bytes of a Java thread's name)
GROUPS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread#", "G1 ")),
    ("stream execution", ("stream executio",)),
    ("executor tasks", ("Executor task l",)),
)


def read_stat(path: str):
    """``(comm, ppid, own CPU s, reaped children's CPU s)`` from a /proc
    stat file, or None if the task is gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1 : s.rindex(")")]
    f = s[s.rindex(")") + 2 :].split()  # f[0] is field 3, the state
    return comm, int(f[1]), (int(f[11]) + int(f[12])) / TICK, (int(f[13]) + int(f[14])) / TICK


def group_of(thread_name: str) -> str:
    for group, prefixes in GROUPS:
        if thread_name.startswith(prefixes):
            return group
    return "rest"


class CpuSplit:
    def __init__(self, root: int) -> None:
        self.root = root
        self.threads: dict = {}  # (jvm, tid) -> (group, CPU s)
        self.jvm_cpu: dict = {}  # jvm -> CPU s of all its threads, exited ones too
        self.reaped: dict = {}  # jvm -> reaped children's CPU s
        self.last: dict = {}  # jvm -> (reaped counter, alive Python children)
        self.spawned: set = set()  # non-Python JVM children seen
        self.workers: dict = {}  # Python pid -> CPU s
        self.driver = 0.0  # the command's own CPU s

    def sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = read_stat(f"/proc/{name}/stat")
                if st is not None:
                    procs[int(name)] = st
        kids: dict = {}
        for pid, st in procs.items():
            kids.setdefault(st[1], []).append(pid)
        below = list(kids.get(self.root, []))
        jvms = []
        for pid in below:  # the command's descendants, breadth first
            below.extend(kids.get(pid, []))
            if procs[pid][0] == "java":
                jvms.append(pid)
        for jvm in jvms:
            self._sample_jvm(jvm, procs, kids)

    def _sample_jvm(self, jvm: int, procs: dict, kids: dict) -> None:
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:  # exited since the scan
            return
        _, _, cpu, reaped = procs[jvm]
        self.jvm_cpu[jvm] = cpu
        for tid in tids:
            st = read_stat(f"/proc/{jvm}/task/{tid}/stat")
            if st is not None:
                self.threads[jvm, int(tid)] = (group_of(st[0]), st[2])
        python = set()
        for child in kids.get(jvm, []):
            if procs[child][0].startswith("python"):
                python.add(child)
                tree = [child]
                for pid in tree:
                    tree.extend(kids.get(pid, []))
                    self.workers[pid] = procs[pid][2]
            else:
                self.spawned.add(child)
        # a Python child that exits is reaped too: leave out that interval
        prev = self.last.get(jvm)
        if prev is not None and prev[1] <= python:
            self.reaped[jvm] = self.reaped.get(jvm, 0.0) + reaped - prev[0]
        self.last[jvm] = (reaped, python)

    def report(self) -> str:
        by_group = {group: 0.0 for group, _ in GROUPS}
        for group, cpu in self.threads.values():
            if group != "rest":
                by_group[group] += cpu
        rest = sum(self.jvm_cpu.values()) - sum(by_group.values())
        lines = [f"JVMs: {len(self.jvm_cpu)}"]
        lines += [f"  {group:<24}{cpu:10.2f} CPU-s" for group, cpu in by_group.items()]
        lines.append(f"  {'rest':<24}{rest:10.2f} CPU-s")
        lines.append(
            f"JVM reaped children       {sum(self.reaped.values()):10.2f} CPU-s"
            f"  ({len(self.spawned)} spawned, seen)"
        )
        lines.append(
            f"Python workers            {sum(self.workers.values()):10.2f} CPU-s"
            f"  ({len(self.workers)} processes)"
        )
        lines.append(
            f"driver                    {self.driver:10.2f} CPU-s  (the command)"
        )
        return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("command", nargs=argparse.REMAINDER, help="-- command [args...]")
    args = ap.parse_args(argv)
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")
    t0 = time.monotonic()
    proc = subprocess.Popen(command)
    split = CpuSplit(proc.pid)
    # wait without reaping: an exited, unreaped process keeps its CPU times
    while not os.waitid(os.P_PID, proc.pid, os.WEXITED | os.WNOHANG | os.WNOWAIT):
        split.sample()
        time.sleep(INTERVAL_S)
    split.driver = read_stat(f"/proc/{proc.pid}/stat")[2]
    proc.wait()
    print(f"cpu_split: {time.monotonic() - t0:.1f} s wall, exit {proc.returncode}")
    print(split.report())
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Layer A/B of the KELOS kernel: replay the benchmark's cached point
streams through the ``core`` of two source trees.

    python scripts/replay_ab.py TREE_A TREE_B [--cache DIR]

Every ``<cache>/inputs/*/points.npz`` (written by ``perfbench/run.py``;
the cache defaults to this checkout's ``.perfbench_cache``) is replayed
shard by shard through ``core.run_stream`` with the config both
benchmark workloads use, by ``perfbench/replay.py`` of the tree under
test.  Each replay runs in a new process that imports only that tree.
``ROUNDS`` rounds interleave the trees and alternate which one goes
first.

Prints per input: each tree's minimum CPU seconds over the rounds (the
replay alone, imports and input loading left out), A/B, whether both
trees gave identical outlier rows, and each tree's self time per
``core`` function from one more replay under ``cProfile`` (which slows
every Python call, so read those as shares, not as times).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROUNDS = 3


def _child(tree: str, npz: str, profile: bool) -> dict:
    """Replay ``npz`` with ``tree``'s package; runs in its own process."""
    sys.path[:0] = [tree, os.path.join(tree, "perfbench")]
    import numpy as np

    from kelos_on_kafka_spark import core
    from kelos_on_kafka_spark.config import KelosConfig

    import replay

    assert core.__file__.startswith(os.path.abspath(tree)), core.__file__
    with np.load(npz) as f:
        points = {name: f[name] for name in f.files}
    jobs = replay._split(points, KelosConfig(n=100))

    prof = None
    if profile:
        import cProfile

        prof = cProfile.Profile()
        prof.enable()
    cpu0 = time.process_time()
    rows = [row for job in jobs for row in replay._replay_shard(job)[0]]
    cpu = time.process_time() - cpu0
    out = {"cpu_s": cpu, "rows": len(rows),
           "digest": hashlib.sha256(repr(rows).encode()).hexdigest()}
    if prof is not None:
        import pstats

        prof.disable()
        core_py = os.path.abspath(core.__file__)
        stats = pstats.Stats(prof).stats
        out["self_s"] = {
            name: tt
            for (path, _, name), (_, _, tt, _, _) in stats.items()
            if os.path.abspath(path) == core_py
        }
    return out


def _run(tree: str, npz: str, profile: bool = False) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--child", tree, npz]
    res = subprocess.run(
        cmd + (["--profile"] if profile else []),
        check=True, capture_output=True, text=True,
    )
    return json.loads(res.stdout.splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("trees", nargs=2, metavar="TREE")
    p.add_argument("--cache", default=os.path.join(HERE, "..", ".perfbench_cache"))
    p.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--profile", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.child:
        print(json.dumps(_child(*args.trees, args.profile)))
        return 0

    inputs = sorted(glob.glob(os.path.join(args.cache, "inputs", "*", "points.npz")))
    if not inputs:
        sys.exit(f"no inputs/*/points.npz under {args.cache}: run perfbench/run.py first")
    trees = [os.path.abspath(t) for t in args.trees]
    same = True
    for npz in inputs:
        cpu: dict[str, list] = {t: [] for t in trees}
        digests = {}
        for r in range(ROUNDS):
            for tree in trees if r % 2 == 0 else trees[::-1]:
                res = _run(tree, npz)
                cpu[tree].append(res["cpu_s"])
                digests[tree] = (res["digest"], res["rows"])
        profiles = {t: _run(t, npz, profile=True)["self_s"] for t in trees}
        a, b = (min(cpu[t]) for t in trees)
        identical = digests[trees[0]] == digests[trees[1]]
        same &= identical
        print(f"{os.path.basename(os.path.dirname(npz))}: "
              f"{digests[trees[0]][1]} outlier rows, identical={identical}")
        for label, tree in zip("AB", trees):
            runs = ", ".join(f"{s:.3f}" for s in cpu[tree])
            print(f"  {label} {tree}: min {min(cpu[tree]):.3f} CPU-s ({runs})")
        print(f"  A/B {a / b:.2f}x")
        names = sorted(
            set(profiles[trees[0]]) | set(profiles[trees[1]]),
            key=lambda n: -max(profiles[t].get(n, 0.0) for t in trees),
        )
        print(f"  {'core self time (cProfile), s':<34}{'A':>8}{'B':>8}")
        for name in names[:15]:
            print(f"  {name:<34}" + "".join(
                f"{profiles[t].get(name, 0.0):8.3f}" for t in trees))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())

"""Open-loop load generator of ``gmm_stream``, run as its own process.

Reads a plan of staged parquet files with due offsets; starts the clock
``LEAD_S`` seconds after it is ready; for each file, writes it into the
source directory under a hidden temporary name (which Spark's file source
ignores), sleeps until its due time, renames it into place, and logs both
the due and the actual time (epoch seconds) as one JSON line.

    python3 perfbench/generator.py --plan plan.json --src DIR --log log.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

LEAD_S = 0.5


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--plan", required=True)
    p.add_argument("--src", required=True)
    p.add_argument("--log", required=True)
    args = p.parse_args()
    with open(args.plan) as f:
        plan = json.load(f)
    t0 = time.time() + LEAD_S
    with open(args.log, "w") as log:
        for item in plan:
            name = os.path.basename(item["staged"])
            tmp = os.path.join(args.src, f".{name}.tmp")
            shutil.copyfile(item["staged"], tmp)
            due = t0 + item["offset_s"]
            while (wait := due - time.time()) > 0:
                time.sleep(wait)
            os.rename(tmp, os.path.join(args.src, name))
            actual = time.time()
            log.write(json.dumps({"file": item["index"], "due": due, "actual": actual}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()

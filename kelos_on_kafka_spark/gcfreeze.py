"""Take a Spark Python worker's imported libraries out of the garbage
collector's view, once per worker.

A reused Spark Python worker (``pyspark.daemon``, worker reuse on by
default) runs a full ``gc.collect()`` after every task.  A full
collection visits every container object the collector tracks, and a
worker that has run package code holds tens of thousands of them from
numpy, pandas, pyarrow and pyspark, which live as long as the worker.
Visiting them again after each task costs more CPU than the small
tasks of a KELOS stage spend outside the kernel.

Importing this module inside a worker (the package ``__init__`` does,
so it runs when a task first unpickles package code) imports those
libraries, collects the garbage left so far, and moves every object
still tracked to the collector's permanent generation with
``gc.freeze()``.  Later collections skip those objects; objects created
afterwards, a task's garbage included, are collected as before.  Frozen
objects are still freed by reference counting; only a reference cycle
among them would stay in memory, which is why the freeze happens once,
at import, after a collection.

Spark's worker sets ``pyspark.TaskContext`` before it reads a task's
functions.  A driver, or a process that never imported pyspark, has no
task context, and nothing is frozen there.
"""

from __future__ import annotations

import gc
import sys


def _in_spark_task() -> bool:
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


if _in_spark_task():
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()

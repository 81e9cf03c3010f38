"""A Spark Python worker that runs package code takes its imports out of
the per-task garbage collection (``kelos_on_kafka_spark.gcfreeze``); a
driver does not, and a worker still collects the garbage its tasks make."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_task_that_imports_the_package_runs_frozen(spark):
    def freeze_count(_):
        import gc

        import kelos_on_kafka_spark  # noqa: F401

        return gc.get_freeze_count()

    counts = spark.sparkContext.parallelize(range(4), 4).map(freeze_count).collect()
    assert min(counts) > 0


def test_driver_import_freezes_nothing():
    code = "import gc, pyspark, kelos_on_kafka_spark; print(gc.get_freeze_count())"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=120,
    )
    assert out.stdout.strip() == "0"


def test_worker_still_collects_cycles_made_after_the_freeze(spark):
    def cycle_collected(_):
        import gc
        import weakref

        import kelos_on_kafka_spark  # noqa: F401

        class Node:
            pass

        freed = []
        node = Node()
        node.self = node
        weakref.finalize(node, freed.append, True)
        del node
        gc.collect()
        return gc.get_freeze_count() > 0, freed == [True]

    results = spark.sparkContext.parallelize(range(4), 4).map(cycle_collected).collect()
    assert results == [(True, True)] * 4

"""A checkpointed stream starts no ``readlink`` process, and its
checkpoint file manager still refuses to overwrite a committed file.

Without Hadoop's native library, Spark's default FileContext-based
checkpoint manager starts a ``readlink`` process for each path it
renames; the session's FileSystem-based manager starts none
(``plans/session.py``).  The outlier sink writes its files from the
driver with pyarrow, so it starts no ``chmod`` either.  The stream runs
in a subprocess with the logging wrappers of ``scripts/shellouts.py``
first on its ``PATH``, on ``get_spark``'s defaults at two cores, so it
also pins the session's one shuffle partition per core as the stream's
state-partition count."""

import importlib.util
import os
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "shellouts", os.path.join(ROOT, "scripts", "shellouts.py")
)
shellouts = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(shellouts)

# one-pane parquet files through kelos_stream and the parquet sink: three,
# then a restart from the checkpoint for a fourth
DRIVER = """
import os, sys
import numpy as np
from pyspark.sql import functions as F
from kelos_on_kafka_spark.config import KelosConfig
from kelos_on_kafka_spark.plans.session import get_spark
from kelos_on_kafka_spark.sources.points import gmm_points
from kelos_on_kafka_spark.streaming.engine import kelos_stream
from kelos_on_kafka_spark.streaming.sink import write_outlier_stream
from tests.conftest import await_stream

base = sys.argv[1]
spark = get_spark()  # SPARK_GRAFT_CPUS=2: local[2], one shuffle partition per core
assert spark.sparkContext.master == "local[2]"
pdf = gmm_points(n=400, seed=7, elements_per_window=300)
pdf["ts"] += 1_000_000.0
panes = np.array_split(np.arange(len(pdf)), 4)


def write_pane(i):
    spark.createDataFrame(
        pdf.iloc[panes[i]], schema="id long, ts double, features array<double>"
    ).select("id", F.timestamp_seconds("ts").alias("ts"), "features").coalesce(
        1
    ).write.parquet(os.path.join(base, "src", f"pane-{i}.parquet"))


def run():
    stream = (
        spark.readStream.schema("id long, ts timestamp, features array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(base, "src", "*.parquet"))
    )
    q = write_outlier_stream(
        kelos_stream(stream, KelosConfig(n=5)),
        os.path.join(base, "sink"),
        os.path.join(base, "ckpt"),
        trigger={"availableNow": True},
    )
    await_stream(q, 300)
    assert q.exception() is None, q.exception()
    return q


for i in range(3):
    write_pane(i)
q = run()
assert len(q.recentProgress) >= 3, q.recentProgress
# the session default is the stream's state-partition count ...
assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 2, q.lastProgress
# ... and its checkpoint keeps that count on a restart
spark.conf.set("spark.sql.shuffle.partitions", "3")
write_pane(3)
q = run()
assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 2, q.lastProgress
spark.stop()
"""


def test_shellouts_counts_calls_by_command_and_area(tmp_path):
    (tmp_path / "ckpt" / "state").mkdir(parents=True)
    (tmp_path / "ckpt" / "state" / "1.delta").touch()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "shellouts.py"), "--",
         "sh", "-c",
         "chmod 644 ckpt/state/1.delta; readlink ckpt/offsets/0; "
         "readlink out/part-0; readlink elsewhere; exit 3"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3
    rows = {
        line.split()[0]: [int(n) for n in line.split()[1:]]
        for line in out.stdout.splitlines()[-4:]
    }
    # columns: offsets commits sources state sink other total
    assert rows["readlink"] == [1, 0, 0, 0, 1, 1, 3]
    assert rows["chmod"] == [0, 0, 0, 1, 0, 0, 1]
    assert rows["ls"][-1] == rows["stat"][-1] == 0


def test_checkpointed_stream_starts_no_readlink(tmp_path):
    log = str(tmp_path / "calls.log")
    env = shellouts.install_wrappers(str(tmp_path / "bin"), log)
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", DRIVER, str(tmp_path)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    ckpt = os.path.realpath(tmp_path / "ckpt")
    sink = os.path.realpath(tmp_path / "sink")

    def under(root, args):  # Hadoop names a path as a file: URI or a plain path
        return any(
            os.path.realpath(a.removeprefix("file:")).startswith(root + os.sep)
            for a in args
        )

    calls = shellouts.read_log(log)
    # the wrappers saw the JVM: every permissioned create under the
    # checkpoint still runs chmod
    assert any(cmd == "chmod" and under(ckpt, args) for cmd, args in calls)
    readlinks = [args for cmd, args in calls if cmd == "readlink" and under(ckpt, args)]
    assert readlinks == []
    # the sink writes its files without a Hadoop write job: no chmod there
    assert os.listdir(sink)
    assert [args for cmd, args in calls if cmd == "chmod" and under(sink, args)] == []


def test_checkpoint_manager_is_filesystem_based_and_refuses_overwrite(
    spark, tmp_path
):
    """Two writers of one batch id: the second commit must fail and the
    first file stand."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path, spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    first = manager.createAtomic(path, False)
    first.write(1)
    first.close()
    second = manager.createAtomic(path, False)
    second.write(2)
    with pytest.raises(Py4JJavaError, match="exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"\x01"

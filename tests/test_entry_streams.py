"""The driver's streaming harness: a query that outlives its timeout
fails loudly and stops, and staged inputs live under one per-process
root that is removed at interpreter exit."""

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


def test_stream_timeout_stops_the_query_and_raises(spark, monkeypatch):
    monkeypatch.setattr(entry_mod, "STREAM_TIMEOUT_S", 0.001)
    root = entry_mod._scratch_root().name
    before = set(os.listdir(root))
    with pytest.raises(TimeoutError, match="still running"):
        entry_mod.queries()["stream_funnel"](spark, SF_DIR)
    assert spark.streams.active == []
    assert len(set(os.listdir(root)) - before) == 1  # the staged input


def test_staging_root_is_removed_at_exit():
    code = (
        "import __spark_entry__ as e\n"
        "d = e._scratch()\n"
        "open(d + '/part', 'w').close()\n"
        "assert d.startswith(e._scratch_root().name)\n"
        "print(e._scratch_root().name)\n"
    )
    root = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.abspath(entry_mod.__file__)),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert root and not os.path.exists(root)

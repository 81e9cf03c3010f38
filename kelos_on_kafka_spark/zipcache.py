"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive has changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``), so
that files shipped with ``addPyFile`` become importable.  On CPython
before 3.13 that call reaches ``zipimport.zipimporter.invalidate_caches``
for every cached zip importer, and each one re-reads the whole central
directory of its archive.  Every package path inside an archive has an
importer of its own, so with PySpark 4.1.2 ``pyspark.zip`` (1,328
entries) is re-read once per imported subpackage and the ``spark-core``
jar (5,359 entries) twice: about 0.2 CPU-s per task before any of the
task's code runs.  CPython 3.13 instead drops the cached directory and
reads it again only when an import next looks into the archive, so
nothing is patched there.

Importing this module (the package ``__init__`` does, so every worker
that runs package code has it) wraps ``zipimport._read_directory`` to
stamp each archive with its ``(st_mtime_ns, st_size)`` when its
directory is read, and makes ``invalidate_caches`` keep the cached
directory while the stamp still matches.  This is safe because Spark
does not change its archives while a worker runs, and an archive that
does change (a zip rewritten in place) gets a new stamp and is re-read
as before.  The stamp is taken before the read, so a write that races
the read leaves a stale stamp and forces another read.  An archive read
before this module was imported has no stamp, so its first invalidation
reads it once more.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}
_read_directory = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamped_read_directory(archive):
    stamp = _stamp(archive)
    files = _read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
    else:
        self._files = files  # another importer may have re-read the archive


if sys.version_info < (3, 13):
    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

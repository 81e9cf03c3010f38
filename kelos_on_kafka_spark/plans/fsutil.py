"""Filesystem probes over ``pyarrow.fs`` — the public replacement for
the private ``spark._jvm`` / ``spark._jsc`` Hadoop-FS reach-through the
maintenance operators used before (fragile across Spark versions and
unavailable under Spark Connect).

``pyarrow.fs.FileSystem.from_uri`` resolves ``file://``, ``hdfs://``
(libhdfs), ``s3://`` and ``gcs://`` URIs; bare paths are treated as
driver-local.  Paths must therefore be absolute URIs or driver-visible
local paths — the same contract the parquet maintenance path already
assumes.

Error semantics (load-bearing for ``maintenance.merge_cdc_delta``): a
missing path is reported as ``False`` / an empty listing, while I/O and
permission errors RAISE — existence checks must never swallow a
transient read failure into "table does not exist".
"""

from __future__ import annotations

from pyarrow import fs as pafs

# Hadoop URI schemes -> the scheme pyarrow's FileSystem.from_uri
# understands.  s3a/s3n are the Hadoop S3 connectors (same object
# store); abfss is TLS abfs.  hdfs:// passes through (needs libhdfs in
# the Python env — documented deployment dependency).
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "abfss": "abfs"}


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, fs-local path) for a URI or driver-local path."""
    if "://" not in path:
        return pafs.LocalFileSystem(), path
    scheme, rest = path.split("://", 1)
    scheme = _SCHEME_ALIASES.get(scheme.lower(), scheme)
    try:
        return pafs.FileSystem.from_uri(f"{scheme}://{rest}")
    except Exception as e:  # noqa: BLE001 — re-raise with deployment hint
        raise RuntimeError(
            f"pyarrow cannot resolve filesystem for {path!r} "
            f"(scheme {scheme!r}): {e}.  Install the pyarrow filesystem "
            "dependency for this scheme (libhdfs for hdfs://, s3/azure "
            "support is built in)."
        ) from e


def table_exists(spark, path: str) -> bool:
    """Existence probe through Spark's OWN filesystem stack (public
    API: a schema-only ``spark.read`` classified by error condition) —
    works on every URI scheme and credential setup the Spark job itself
    can write to, unlike a driver-local pyarrow probe.  Semantics:
    PATH_NOT_FOUND -> False; an existing-but-empty directory
    (UNABLE_TO_INFER_SCHEMA) -> True; any OTHER error (permission,
    corrupt footer, transient I/O) RAISES — the caller must never treat
    a read failure as 'table absent'."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as e:
        cond = (
            e.getCondition()
            if hasattr(e, "getCondition")
            else e.getErrorClass()
        )
        if cond == "PATH_NOT_FOUND":
            return False
        if cond == "UNABLE_TO_INFER_SCHEMA":
            return True
        raise


def list_subdirs(path: str) -> list[tuple[str, str]]:
    """Immediate subdirectories of ``path`` as (base_name, full_path);
    empty when ``path`` itself does not exist."""
    fs, p = resolve(path)
    selector = pafs.FileSelector(p, recursive=False, allow_not_found=True)
    return [
        (info.base_name, info.path)
        for info in fs.get_file_info(selector)
        if info.type == pafs.FileType.Directory
    ]


def delete_dir(path: str) -> None:
    """Recursively delete a directory."""
    fs, p = resolve(path)
    fs.delete_dir(p)

"""Filesystem guards for table writers.

A writer must distinguish "no prior table" (take the first-write
branch) from "prior table unreadable" (fail the batch and retry) —
treating an IO error as absence would overwrite previously finalized
data, the exact loss mode the reference's ES upsert
(``batch_processor.py:142-148``) cannot hit because the index either
exists or the request errors.

Two enforcement levels:

- :func:`fs_exists` probes existence through the Hadoop ``FileSystem``
  for the path's OWN scheme (``file://``, ``hdfs://``, ``s3a://``, …),
  so the check always matches whatever filesystem the subsequent
  ``df.write`` targets. Use it wherever the sink itself is
  scheme-agnostic (plain Spark writes).
- :func:`require_local` fails loudly for writers that commit through
  OS-level file operations and are therefore local-FS only by
  construction: the versioned-table pointer rename
  (``operators/versioned.py``, which every Lambda table commits
  through), ``storage.compact``'s swap and the IVF index markers. The
  guard turns "silent wrong branch on s3a://" — an ``os.makedirs``
  creating a local ``hdfs:/…`` directory, a pointer landing on the
  wrong filesystem — into an immediate error.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import SparkSession


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API.

    Resolves the filesystem FROM the path (``Path.getFileSystem``), so
    a ``hdfs://`` or ``s3a://`` sink path is probed on that filesystem,
    never on the driver's local disk. Raises (instead of returning
    False) when the filesystem itself is unreachable, so callers'
    first-write branches can only be selected by genuine absence.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def require_local(path: str, op: str) -> None:
    """Fail loudly when ``path`` is not a local filesystem path.

    For writers whose commit step is OS-level (``os.rename``): on any
    other scheme the os-level existence check silently reports absence
    and the rename would target the wrong filesystem entirely.
    """
    scheme = urlparse(path).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"{op}: path {path!r} has scheme {scheme!r} but this writer's "
            "commit is OS-level (os.rename) and supports only local "
            "paths; use a Delta MERGE (or an FS-native committer) for "
            "non-local tables"
        )

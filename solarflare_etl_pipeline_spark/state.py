"""Scratch space: where every file the engine derives from a source lives.

Queries that need their input in another shape (a CSV or XML copy, a
partitioned or bucketed layout, stream-source files, an incremental
store, a sink's round-trip target, a checkpoint) write it here, under one
policy:

* **Root.** One directory per process, created on first use under
  ``tempfile.gettempdir()`` (so it follows ``TMPDIR``) and removed, with
  everything in it, when the interpreter exits.
* **Key.** An artifact is named ``solarflare_<kind>_<digest>``. ``kind``
  says what it is; the digest covers the source directory's absolute
  path and a fingerprint of its contents. Two sources that share a
  basename get different names, and a source rewritten in place gets a
  new name.
* **Reuse.** ``build_once`` builds an artifact the first time its name is
  asked for in this process and hands back the finished path after that.
  Because the name covers the source contents, a reused artifact is
  always the one built from the same source; stale reuse cannot happen.
* **Removal.** Nothing is written outside the root, so deleting the root
  deletes every artifact, embedded Derby's error log included (Derby
  otherwise writes it to the working directory). Writers that must start
  clean on each call (a sink's overwrite target, a fresh checkpoint)
  clear their own path.

At cluster scale the root is durable shared storage keyed by pipeline id
and the fingerprint is the table format's snapshot id; the naming rule
is the part that carries over.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

__all__ = ["build_once", "derby_url", "source_fingerprint", "store_path"]

_ROOT: str | None = None
#: Paths whose artifact this process has finished building.
_BUILT: set[str] = set()


def _scratch_root() -> str:
    """This process's scratch directory, created on first use."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="solarflare_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def source_fingerprint(sf_dir: str) -> str:
    """sha1 over (name, size, mtime_ns) of every entry in ``sf_dir``.

    One ``os.scandir`` pass and no file contents read, so the cost is
    O(#tables) at any data scale.
    """
    parts = []
    with os.scandir(os.path.abspath(sf_dir)) as it:
        for entry in sorted(it, key=lambda e: e.name):
            st = entry.stat()
            parts.append(f"{entry.name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha1("|".join(parts).encode("utf-8")).hexdigest()[:12]


def store_path(kind: str, sf_dir: str) -> str:
    """Scratch path of the ``kind`` artifact derived from ``sf_dir``."""
    key = os.path.abspath(sf_dir)
    digest = hashlib.sha1(
        f"{key}|{source_fingerprint(key)}".encode("utf-8")
    ).hexdigest()[:12]
    return os.path.join(_scratch_root(), f"solarflare_{kind}_{digest}")


def build_once(kind: str, sf_dir: str, build: Callable[[str], object]) -> str:
    """Return the ``kind`` artifact's path, calling ``build(path)`` to
    write it the first time this process asks for it."""
    path = store_path(kind, sf_dir)
    if path not in _BUILT:
        build(path)
        _BUILT.add(path)
    return path


def derby_url(spark: SparkSession, db_path: str) -> str:
    """JDBC url of an embedded Derby database at ``db_path``.

    Derby reads where to write its error log when it boots, the first
    time any database is opened in the JVM; every Derby url comes from
    here, so the log is placed in the scratch root before that happens.
    """
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(_scratch_root(), "derby.log")
    )
    return f"jdbc:derby:{db_path};create=true"

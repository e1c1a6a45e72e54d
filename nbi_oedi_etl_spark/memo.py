"""The package's one memo: inferred table schemas, layout sidecars and the
expressions built from them, staged stream inputs, and the per-session
DataFrames of the portable pipelines.

The keying rule, for every memo in the package:

- a value that holds a JVM reference (``DataFrame``, ``Column``) is keyed
  per ``applicationId`` (``session_key``). A restarted SparkContext always
  misses; ``newSession()`` clones share the context and so share its values;
- a pure-Python value (``StructType``, sidecar dict, staged path) is keyed
  only on the fingerprint of the files it was derived from (``file_key``
  for local files, ``sidecar_status`` for layout sidecars), so it is valid
  across sessions and any change to those files rotates the key.

A fingerprint is ``None`` when the path cannot be stat'ed, and ``Memo.get``
never stores under a ``None`` key: it just builds, so the caller's read
raises (or succeeds) exactly as it would without the memo.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError


class Memo:
    """FIFO-bounded dict. The lock is held across ``build`` so concurrent
    first callers build once."""

    def __init__(self, max_entries: int) -> None:
        self._max = max_entries
        self._entries: dict = {}
        self._lock = threading.RLock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key, build, valid=None):
        """The memoized value for ``key``, built (and stored) on a miss.
        ``valid(value)`` decides whether a stored value may be reused."""
        if key is None:
            return build()
        with self._lock:
            if key in self._entries:
                value = self._entries[key]
                if valid is None or valid(value):
                    return value
                del self._entries[key]
            value = self._entries[key] = build()
            if len(self._entries) > self._max:
                del self._entries[next(iter(self._entries))]
            return value

    def drop(self, match) -> None:
        """Invalidate every entry whose key satisfies ``match(key)``."""
        with self._lock:
            for key in [k for k in self._entries if match(k)]:
                del self._entries[key]


def session_key(spark, *parts) -> tuple:
    """Key for a value bound to ``spark``'s JVM context. Not ``id(spark)``:
    an id can be recycled after a stopped session is garbage-collected,
    which would hand back a localCheckpoint bound to a dead context."""
    return (spark.sparkContext.applicationId, *parts)


def path_fingerprint(path: str):
    """(name, mtime_ns, size) of the path and, for a directory-of-parts
    table, of every visible entry — None when unstatable."""
    try:
        st = os.stat(path)
        fp = [("", st.st_mtime_ns, st.st_size)]
        if os.path.isdir(path):
            for e in sorted(os.listdir(path)):
                if e.startswith((".", "_")):
                    continue
                es = os.stat(os.path.join(path, e))
                fp.append((e, es.st_mtime_ns, es.st_size))
        return tuple(fp)
    except OSError:
        return None


def file_key(path: str, *parts):
    """Key for a value derived from the files at ``path``: (path, *parts,
    fingerprint) — None when unstatable."""
    fp = path_fingerprint(path)
    return None if fp is None else (path, *parts, fp)


def sidecar_status(spark, path: str, fname: str):
    """(path, fname, mtime, size) of a layout sidecar through the Hadoop FS
    API (~1 ms, any warehouse filesystem) — None when unstatable."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{fname}")
    try:
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(hpath)
    except Py4JJavaError:
        return None
    return (path, fname, st.getModificationTime(), st.getLen())

"""One plan-handle cache for the engine, kept fresh by file fingerprints.

A cached handle (a lazy DataFrame, or a small index read from a file) is
reused only while the files it was built from are unchanged, so a
replaced, added or removed file is seen on the very next call, as in the
reference, which rebuilds every source per request
(kukur/source/__init__.py:349-364).  The one result kept is a file
source's search rows, bounded by ``file_source.MAX_CACHED_SEARCH_ROWS``.
"""

from __future__ import annotations

import glob
import os
import stat
import threading
from collections import OrderedDict

# a few entries per file source (raw read, canonical frame, search plans
# and rows, one per hot selector) plus one per driver test table
MAX_ENTRIES = 256


class PlanCache:
    """Locked LRU map ``key → (fingerprint, handle)``."""

    def __init__(self, max_entries: int = MAX_ENTRIES):
        self.max_entries = max_entries
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key, fingerprint, build):
        """The handle stored under ``key`` with an equal ``fingerprint``,
        else ``build()``, stored.  A ``None`` fingerprint is never stored.
        ``build`` runs outside the lock, so it may look up other keys; two
        threads that miss together both build and the last store wins."""
        if fingerprint is None:
            return build()
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None and entry[0] == fingerprint:
                self._entries.move_to_end(key)
                return entry[1]
        value = build()
        with self._lock:
            self._entries[key] = (fingerprint, value)
            self._entries.move_to_end(key)
            while len(self._entries) > self.max_entries:
                self._entries.popitem(last=False)
        return value


# the engine's one instance: file sources, driver test tables and the
# dedup skew-guard estimates
PLANS = PlanCache()


def fingerprint(path: str):
    """Sorted ``(relative path, size, mtime_ns)`` of every file under a
    file, directory (recursively, ``_``/``.`` entries included) or glob.
    ``file://`` is a local path; any other URI scheme gives ``None``, so
    it is rebuilt on every call.  A missing path gives ``()``."""
    if "://" in path:
        if not path.startswith("file://"):
            return None
        path = path[len("file://"):]
    files: list = []
    if any(c in path for c in "*?["):
        for match in glob.glob(path):
            _add_files(match, match, files)
    else:
        _add_files(path, "", files)
    return tuple(sorted(files))


def _add_files(path: str, rel: str, out: list) -> None:
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            out.append((rel, st.st_size, st.st_mtime_ns))
            return
        names = os.listdir(path)
    except OSError:  # missing, unreadable, or removed while walking
        return
    for name in names:
        _add_files(os.path.join(path, name), os.path.join(rel, name), out)

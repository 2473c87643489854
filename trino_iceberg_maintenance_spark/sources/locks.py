"""One exclusive lock per directory, for threads and for processes.

The lake's tables and the maintenance schedule are read-modify-write
files (``_manifest.log``/``_manifest.json``/``_table.json``, the
schedule's one parquet file). :func:`dir_lock` serializes their writers:
a per-process ``RLock`` orders the threads of one process (and lets a
holder re-enter), and ``fcntl.flock`` on a hidden ``_lock`` file in the
directory orders processes. Hadoop-style readers skip ``_`` files, so
the lock file is invisible to Spark scans of the directory.

No Spark job may run while a lock is held; the one nesting allowed is
a schedule lock taken before a table lock.
"""

from __future__ import annotations

import fcntl
import os
import threading


class DirLock:
    """Re-entrant, cross-process exclusive lock on one directory."""

    def __init__(self, directory: str):
        self.path = os.path.join(directory, "_lock")
        self._rlock = threading.RLock()
        self._depth = 0
        self._fd: int | None = None

    def __enter__(self) -> "DirLock":
        self._rlock.acquire()
        try:
            if self._depth == 0:
                os.makedirs(os.path.dirname(self.path), exist_ok=True)
                fd = os.open(self.path, os.O_RDWR | os.O_CREAT, 0o644)
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX)
                except BaseException:
                    os.close(fd)
                    raise
                self._fd = fd
            self._depth += 1
        except BaseException:
            self._rlock.release()
            raise
        return self

    def __exit__(self, *exc) -> None:
        self._depth -= 1
        if self._depth == 0:
            fd, self._fd = self._fd, None
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        self._rlock.release()


_locks: dict[str, DirLock] = {}
_locks_guard = threading.Lock()


def dir_lock(directory: str) -> DirLock:
    """The lock of ``directory``: one object per path in this process,
    so every handle on one table or schedule shares it."""
    key = os.path.abspath(directory)
    with _locks_guard:
        if key not in _locks:
            _locks[key] = DirLock(key)
        return _locks[key]

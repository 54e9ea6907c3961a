"""Single-writer lock for the on-disk stores (``IvfIndex``, ``TextIndex``,
``SnapshotTable``).

Each store serializes its driver-side directory mutations (cell swaps,
postings compaction, manifest commits) with ``flock`` on a lock file —
the same coarse single-writer contract the reference's FAISS manager gets
for free from being one process, made explicit here because two
concurrent rewrites would corrupt the directory layout. Readers never
take the lock for serving: they resolve a consistent file listing per
query via a manifest or the parquet snapshot.

``flock`` (not O_CREAT|O_EXCL existence) because the kernel releases it
when the owner dies — even ``kill -9`` mid-mutation leaves no stale lock,
so post-crash recovery and the next mutation proceed immediately, and
there is no lock-breaking protocol to get wrong (PID-liveness breaking
has an unfixable check-then-remove race where a contender can delete a
FRESH lock re-acquired after its staleness check, admitting two
writers). An existence lock file left by a dead committer, by contrast,
blocks every later writer until someone deletes it by hand. The lock
FILE persists on disk between mutations — only the flock on it matters;
its PID content is a diagnostic. Single-host semantics (an advisory lock
on the local filesystem), which is the lock's scope anyway: it guards
driver-side renames. Each acquisition opens its own file description, so
two writers in one process (threads) still exclude each other.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import os
import time
from pathlib import Path


@contextlib.contextmanager
def flock_held(lock: Path, timeout_s: float):
    """Hold an exclusive ``flock`` on ``lock`` (created with its parent
    directory if missing), polling every 50 ms; raises ``TimeoutError``
    when another live writer still holds it after ``timeout_s``
    (``0.0`` = a single non-blocking attempt)."""
    lock.parent.mkdir(parents=True, exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"could not acquire {lock} after {timeout_s}s — "
                        "another writer is active"
                    ) from None
                time.sleep(0.05)
        try:
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def locked_mutator(recover):
    """Decorator factory for a store's file-mutating methods: run the
    method under ``self._mutation_lock()``, calling ``recover(self)``
    first — crash recovery runs while the lock is held and before the
    mutator reads any file, so a mutator never plans against (and then
    persists) a layout a crashed writer left half-swapped."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            with self._mutation_lock():
                recover(self)
                return fn(self, *args, **kwargs)

        return wrapper

    return deco

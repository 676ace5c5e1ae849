"""Session-scoped cache for values derived from a corpus directory.

The engine reuses persisted intermediates, stream-input fixtures and
schema probes across the queries of one session. This module decides, in
one place, when such a value is still valid, how a stale value is released
and how build time is counted.

One store maps a caller-chosen key to ``(fingerprint, value, release)``.
The fingerprint is the corpus mtime of the entry's ``sf_dir``
(``_dir_mtime_ns``), taken when the value was built. A get whose current
fingerprint differs runs the stale entry's ``release`` and rebuilds, so a
corpus regenerated in place never serves old derived data and never leaks
the superseded copy: one entry per key at any time. Callers put the Spark
applicationId in the key when the value belongs to one application.

One re-entrant lock is held across every build, so two threads asking for
one key build it once. It must be re-entrant because builds nest
(``_shared_scored_pairs`` builds ``hv``). No foreachBatch callback thread
may enter the cache: a thread holding the lock across a build that waits
for a stream would deadlock against that stream's sink. ``streaming/*.py``
sinks never call it; keep it that way.
"""

from __future__ import annotations

import atexit
import os
import threading
import time


def _dir_mtime_ns(sf_dir: str) -> int:
    """Newest mtime anywhere under ``sf_dir`` (two levels deep) — the
    corpus-staleness fingerprint. The MAX of the dir mtime and every entry
    mtime is used because an O_TRUNC rewrite of an existing file or a
    rewrite inside a per-table subdirectory does NOT bump the parent dir's
    mtime (round-7 review), but it does bump the file's own. One cheap
    os.scandir pass, orders cheaper than the byte walks it guards."""
    mtime = -1
    try:
        mtime = os.stat(sf_dir).st_mtime_ns
        with os.scandir(sf_dir) as it:
            for e in it:
                try:
                    mtime = max(mtime, e.stat().st_mtime_ns)
                    if e.is_dir():
                        with os.scandir(e.path) as it2:
                            for e2 in it2:
                                mtime = max(mtime, e2.stat().st_mtime_ns)
                except OSError:
                    pass
    except OSError:
        pass
    return mtime


class SessionCache:
    def __init__(self) -> None:
        self._lock = threading.RLock()
        self._entries: dict = {}
        self._depth = threading.local()
        self._build_secs: dict[str, float] = {}

    def get(self, key, build, sf_dir: str | None = None, release=None,
            label: str | None = None):
        """The value under ``key``, made by ``build()`` when absent or when
        the corpus under ``sf_dir`` changed since it was built (with no
        ``sf_dir`` it stays valid until ``invalidate``). ``release(value)``
        frees a value the cache drops. A ``label`` records the build's
        seconds under that label; only the outermost build on a thread
        records, so a nested build's seconds count once, in its parent's."""
        with self._lock:
            fp = None if sf_dir is None else _dir_mtime_ns(sf_dir)
            hit = self._entries.get(key)
            if hit is not None and hit[0] == fp:
                return hit[1]
            self.invalidate(key)
            depth = getattr(self._depth, "n", 0)
            self._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                value = build()
            finally:
                self._depth.n = depth
            if label is not None and depth == 0:
                self.record_build(label, time.perf_counter() - t0)
            self._entries[key] = (fp, value, release)
            return value

    def invalidate(self, key) -> None:
        """Drop the entry under ``key``, releasing its value."""
        with self._lock:
            hit = self._entries.pop(key, None)
            if hit is not None and hit[2] is not None:
                hit[2](hit[1])

    def clear(self) -> None:
        with self._lock:
            for key in list(self._entries):
                self.invalidate(key)

    def record_build(self, label: str, sec: float) -> None:
        with self._lock:
            self._build_secs[label] = self._build_secs.get(label, 0.0) + sec

    def drain_build_secs(self) -> dict[str, float]:
        """Build seconds per label since the last drain, unrounded."""
        with self._lock:
            out, self._build_secs = self._build_secs, {}
        return out


SESSION_CACHE = SessionCache()
atexit.register(SESSION_CACHE.clear)

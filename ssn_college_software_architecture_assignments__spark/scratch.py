"""Process-lifetime scratch resources with guaranteed reclamation.

Every operator that needs an on-disk fixture (lake roots, stream
checkpoints, bucketed-table warehouses, .env files) allocates through
:func:`scratch_dir` instead of calling ``tempfile.mkdtemp`` directly.
The returned directory lives until interpreter exit, then a single
``atexit`` janitor removes everything — so repeated bench/oracle
sweeps in one process no longer accumulate unbounded temp-dir litter
(review-caught: t11/s20/s21 each leaked a lake + checkpoint pair per
invocation).

Lifetime contract: directories are PER-PROCESS, not per-call. Spark's
``addPyFile`` and parquet readers copy/own what they need, so removing
the source trees at exit is safe; nothing in the package reads a
scratch dir from a later process.

:func:`persist_scoped` (r19) is the cache analogue: query-internal
multi-consumer ``persist()`` frames register with the active persist
scope (registry.py opens one around each top-level query build) and
unpersist when the query's returned DataFrame is collected — guide §5,
"unpersist when done". Before r19 those blocks outlived their query
until the NEXT registry dispatch's clearCache janitor ran, and forever
in direct-module-call probe sessions (the r18 measurement notes traced
late-session timing inflation to exactly this accumulation).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import weakref

_LOCK = threading.Lock()
_DIRS: list[str] = []
_REGISTERED = False

_PERSIST_SCOPE = threading.local()


def persist_scoped(df):
    """``df.persist()`` plus registration with this thread's active
    persist scope. With no scope open (direct module calls from tests
    and probe scripts) it is a plain ``persist()`` — the registry
    janitor's clearCache still bounds retention for registry dispatch,
    and probes manage their own cache."""
    out = df.persist()
    frames = getattr(_PERSIST_SCOPE, "frames", None)
    if frames is not None:
        frames.append(out)
    return out


def open_persist_scope() -> bool:
    """Start collecting :func:`persist_scoped` frames on this thread.
    Returns True when this call opened the scope (the outermost build
    owns the release); nested opens are no-ops so a composed query's
    persists all ride the top-level result's lifetime."""
    if getattr(_PERSIST_SCOPE, "frames", None) is None:
        _PERSIST_SCOPE.frames = []
        return True
    return False


def close_persist_scope(opened: bool, out) -> None:
    """Close the scope opened by :func:`open_persist_scope`, tying the
    collected frames' cache lifetime to ``out``: when the caller's last
    reference to the returned DataFrame is collected, every frame
    unpersists (non-blocking). ``out is None`` means the build raised:
    the frames unpersist at once instead of waiting for the next
    dispatch's clearCache. Unpersist is a pure perf hint — a straggler
    reference to a derived frame simply recomputes — and release errors
    are swallowed because at interpreter shutdown the JVM gateway may
    already be gone."""
    if not opened:
        return
    frames = getattr(_PERSIST_SCOPE, "frames", None) or []
    _PERSIST_SCOPE.frames = None
    if not frames:
        return

    def _release(frames=tuple(frames)):
        for f in frames:
            try:
                f.unpersist(False)
            except Exception:
                pass

    if out is None:
        _release()
        return
    try:
        weakref.finalize(out, _release)
    except TypeError:
        # non-weakref-able result (not a DataFrame): fall back to the
        # registry janitor's next-dispatch clearCache
        pass


def _janitor() -> None:
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` plus end-of-process reclamation."""
    global _REGISTERED
    d = tempfile.mkdtemp(prefix=prefix)
    with _LOCK:
        if not _REGISTERED:
            atexit.register(_janitor)
            _REGISTERED = True
        _DIRS.append(d)
    return d

"""One in-process memo for DataFrames derived from source files.

A memoized DataFrame is a deterministic function of the files it was
built from (the lineage rule of D-Streams), so it stays valid only while
those files stay the same. Every entry lives under ``(kind, key)`` and is
stamped with the session's application id plus ``file_identity`` of each
source. A call whose stamp differs unpersists the superseded DataFrame
and rebuilds, so the memo holds one entry per ``(kind, key)`` and cannot
serve data from a rewritten source. A source that cannot be stat-ed
(in-memory test fixtures, exotic layouts) builds without memoizing.

What is memoized is driver-side work: parquet source resolution, and the
``.cache()``-backed tables several operators share (shingle signatures,
near-dup edges, PQ elements, identity documents). ``bench.py`` calls
``clear()`` between cold runs and runs its canary rows inside
``bypass()``; ``stats()`` reports per-kind hits and misses.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import Counter
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[tuple, tuple[tuple, DataFrame]] = {}
_HITS: Counter = Counter()
_MISSES: Counter = Counter()
_bypass_depth = 0
_LOCK = threading.Lock()


def file_identity(path: str) -> tuple:
    """The single rule for "the same source": ``(mtime_ns, size)`` for a
    file; for a directory, the sorted ``(relative name, mtime_ns, size)``
    of every file beneath it (a part file rewritten in place changes
    neither the directory's mtime nor its listing). Raises OSError when
    ``path`` cannot be stat-ed."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    files = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            fst = os.stat(full)
            files.append(
                (os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size)
            )
    return tuple(sorted(files))


def _release(df: DataFrame) -> None:
    if df.is_cached:
        try:
            df.unpersist()
        except Exception:  # the entry's session may already be stopped
            pass


def memo(
    spark: SparkSession,
    kind: str,
    key,
    sources: Iterable[str],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()``'s DataFrame, reused while the session and every file in
    ``sources`` are unchanged."""
    stamp = None
    if not _bypass_depth:
        try:
            stamp = (
                spark.sparkContext.applicationId,
                *(file_identity(s) for s in sources),
            )
        except OSError:
            pass
    # build() runs outside the lock: it can take seconds, call memo()
    # itself, and wait on stream batches that call memo() from other
    # threads
    with _LOCK:
        entry = _ENTRIES.get((kind, key)) if stamp is not None else None
        if entry is not None and entry[0] == stamp:
            _HITS[kind] += 1
            return entry[1]
        _MISSES[kind] += 1
        if entry is not None:
            del _ENTRIES[(kind, key)]
    if stamp is None:
        return build()
    if entry is not None:
        # unpersist before building, so the superseded and the new
        # cached data never hold executor memory at the same time
        _release(entry[1])
    df = build()
    with _LOCK:
        raced = _ENTRIES.get((kind, key))
        _ENTRIES[(kind, key)] = (stamp, df)
    if raced is not None:  # a concurrent miss built the same key
        _release(raced[1])
    return df


def clear() -> None:
    """Unpersist and drop every entry, and reset the counters."""
    with _LOCK:
        dropped = list(_ENTRIES.values())
        _ENTRIES.clear()
        _HITS.clear()
        _MISSES.clear()
    for _stamp, df in dropped:
        _release(df)


@contextmanager
def bypass() -> Iterator[None]:
    """Inside the block every ``memo`` call builds afresh (a miss) and
    leaves the entries untouched."""
    global _bypass_depth
    with _LOCK:
        _bypass_depth += 1
    try:
        yield
    finally:
        with _LOCK:
            _bypass_depth -= 1


def stats() -> dict[str, dict[str, int]]:
    """Per kind: hits and misses since the last ``clear()``, and the
    entries held now."""
    with _LOCK:
        held = Counter(kind for kind, _key in _ENTRIES)
        kinds = sorted(set(_HITS) | set(_MISSES) | set(held))
        return {
            kind: {
                "hits": _HITS[kind],
                "misses": _MISSES[kind],
                "entries": held[kind],
            }
            for kind in kinds
        }

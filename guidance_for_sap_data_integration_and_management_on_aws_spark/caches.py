"""The one memoizer for per-(session, sf_dir) derived frames, and the
registry of its cache dicts.

Several operator families memoize an expensive derived frame per corpus
snapshot (dedup's token/pair/mask/candidate/label frames, graph's edge
frame, the sketch fact tables).  ``memoize`` keys each entry by
``(applicationId, sf_dir)`` — a new session never sees a dead frame — and
bounds every dict at ``CACHE_MAX_ENTRIES`` with FIFO eviction; an evicted
frame is unpersisted, and dropping the reference lets a localCheckpoint's
blocks be GC-reclaimed.  Modules register their dicts at definition time so
that ``clear_caches(sf_dir)`` releases every entry pinned for an sf_dir —
the bench uses it after its warm pass — without knowing the dicts.

Registration is a side effect of importing the owning module, so callers
that want a FULL sweep should import the operator modules first (the bench
and the registry both already do — every builder lives in an imported
module by the time a sweep runs).
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# (cache dict, key -> sf_dir extractor)
_REGISTRY: list[tuple[dict, Callable]] = []


def register_cache(cache: dict, sf_of_key: Callable = lambda k: k[1]) -> dict:
    """Register a memoizer dict for the global sweep and return it.

    ``sf_of_key`` maps a cache key to its sf_dir; the default fits the
    dominant ``(applicationId, sf_dir)`` keying.
    """
    _REGISTRY.append((cache, sf_of_key))
    return cache


CACHE_MAX_ENTRIES = 4  # one live SF dir + headroom


def _release(val) -> None:
    """Unpersist a DataFrame value; other values (None, dicts, tuples) pin
    nothing.  A persisted frame of an already-stopped session raises a
    ``Py4JJavaError`` (a NullPointerException inside ``unpersist``), which
    is harmless; any other error propagates."""
    if isinstance(val, DataFrame):
        try:
            val.unpersist()
        except Py4JJavaError:
            pass


def memoize(cache: dict, spark: SparkSession, sf_dir: str, build: Callable):
    """``cache[(applicationId, sf_dir)]``, calling ``build()`` on a miss.
    Any value is memoized, None included.  Insertion order is age, so the
    oldest entry is evicted (and released) first."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in cache:
        return cache[key]
    val = build()
    while len(cache) >= CACHE_MAX_ENTRIES:
        _release(cache.pop(next(iter(cache))))
    cache[key] = val
    return val


def clear_caches(sf_dir: str | None = None) -> int:
    """Drop (and release, see ``_release``) every registered
    cache entry for ``sf_dir`` — or every entry when ``sf_dir`` is None.
    Returns the number of entries released."""
    n = 0
    for cache, sf_of in _REGISTRY:
        # The extractor convention (key -> sf_dir string) is unchecked at
        # registration; a cache keyed differently would be silently skipped
        # or wrongly swept — fail loud instead (round-10 advice).  Each key's
        # extraction runs ONCE (validation + match share the value) and an
        # extractor that RAISES on an unexpected key shape (IndexError from
        # the default lambda on a short tuple) surfaces as the same
        # diagnostic TypeError instead of escaping raw (round-11 advice).
        keyed = []
        for k in cache:
            try:
                s = sf_of(k)
            except Exception as e:
                raise TypeError(
                    f"registered cache key {k!r}: sf_of_key raised "
                    f"{type(e).__name__}: {e} (expected an sf_dir string) — "
                    "pass an explicit sf_of_key to register_cache for this "
                    "keying"
                ) from e
            if not isinstance(s, str):
                raise TypeError(
                    f"registered cache key {k!r}: sf_of_key returned "
                    f"{s!r} (expected an sf_dir string) — pass an "
                    "explicit sf_of_key to register_cache for this keying"
                )
            keyed.append((k, s))
        for key, s in keyed:
            if sf_dir is not None and s != sf_dir:
                continue
            _release(cache.pop(key))
            n += 1
    return n

"""Managed persist scope for intermediate tables shared by several
consumers of ONE logical pipeline, and the plan memo of the registry.

The registered single-query surface deliberately holds no unmanaged
caches: a query function returns a lazy plan, so a persist inside it
would outlive the query with nobody responsible for the memory (the
documented two-scan tradeoffs in text_tfidf_topterms, dedup_fuzzy_
name_pairs, and text_corpus_contrast). This module is the managed
version of that scope, and every persisted intermediate shared across
queries goes through it:

- one slot per cache FAMILY (dedup verified pairs and clusters, tf
  table, distinct-names table, ...),
  keyed by (applicationId, sf_dir, params) plus the content signature
  of the files under sf_dir (``sources.tables._path_sig``), so a
  build over rewritten inputs never reuses an intermediate persisted
  over the old files;
- a key MISS first unpersists and drops every previous entry of that
  family (explicit unpersist: the cache holds at most one persisted
  plan per family, so repeated bench/test invocations can't accumulate
  storage), then persists the freshly built plan;
- `release()` drops everything eagerly for tests and pipeline
  teardown.

The same one-slot discipline holds driver-side fitted artifacts
(`memo_artifact`) and the registry's built plans (`memo_plan`, one
family ``plan:<query name>`` per registered query; plans/registry.py
states what its key covers). A plan entry is a DataFrame that is never
optimized, planned or executed: it holds the analyzed plan only, and
every call gets a new Dataset over it. Every family counts its hits
and misses (`counts()`).

The applicationId in the key makes a dead session's stale handle
unreachable (its unpersist is wrapped — a stopped context must never
fail the next query).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources.tables import _path_sig

_CACHES: dict[str, dict[tuple, DataFrame]] = {}
_COUNTS: dict[str, list[int]] = {}  # family -> [hits, misses]
_COUNT_LOCK = threading.Lock()
# .deps: while memo_plan builds on this thread, the (family, key,
# handle) of every managed persist the build went through; else None
_BUILDS = threading.local()


def _tally(family: str, hit: bool) -> None:
    with _COUNT_LOCK:
        _COUNTS.setdefault(family, [0, 0])[0 if hit else 1] += 1


def counts() -> dict[str, tuple[int, int]]:
    """(hits, misses) of every family since the process started;
    ``release()`` drops entries, not counts."""
    with _COUNT_LOCK:
        return {fam: (h, m) for fam, (h, m) in _COUNTS.items()}


def memo_persist(
    family: str, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the persisted DataFrame for (family, key), building it on
    first use; a new key evicts (and unpersists) the family's previous
    entry. ``key`` is (applicationId, sf_dir, params...), and the
    signature of the files under sf_dir is added to it (an sf_dir that
    ``os`` cannot list is keyed as given)."""
    try:
        key = key + (_path_sig(key[1]),)
    except OSError:
        pass
    cache = _CACHES.setdefault(family, {})
    df = cache.get(key)
    _tally(family, df is not None)
    if df is None:
        for old in cache.values():
            try:
                old.unpersist(blocking=False)
            except Exception:  # dead-context handle: unreachable, not fatal
                pass
        cache.clear()
        df = build().persist()
        cache[key] = df
    deps = getattr(_BUILDS, "deps", None)
    if deps is not None:
        deps.append((family, key, df))
    return df


_ARTIFACTS: dict[str, dict[tuple, object]] = {}
_ABSENT = object()


def memo_artifact(family: str, key: tuple, build: Callable[[], object]) -> object:
    """memo_persist for DRIVER-SIDE fitted artifacts (Bloom bitmaps,
    codebooks — plain Python values, nothing to unpersist): same
    one-slot-per-family, evict-on-key-miss discipline, same release()
    teardown, so every fitted-artifact cache in the repo shares one
    keying/eviction implementation."""
    cache = _ARTIFACTS.setdefault(family, {})
    value = cache.get(key, _ABSENT)
    _tally(family, value is not _ABSENT)
    if value is _ABSENT:
        value = build()
        cache.clear()
        cache[key] = value
    return value


def memo_plan(
    family: str,
    key: tuple,
    build: Callable[[], DataFrame],
    keep: Callable[[DataFrame], bool],
) -> DataFrame:
    """A new Dataset over the analyzed plan kept for (family, key).

    On a miss the plan is built and kept when ``keep(df)`` holds, with
    the managed persists its build went through: a hit whose persists
    are gone (evicted or released) is a miss, so a kept plan always
    optimizes over the same cached relations as a fresh build. A
    builder that returns a persist's own handle is served as built, as
    is a plan not kept. The kept DataFrame itself is never returned:
    ``select("*")`` gives each call a fresh QueryExecution, optimized,
    planned and executed anew (the optimizer removes the no-op
    projection)."""
    cache = _ARTIFACTS.setdefault(family, {})
    entry = cache.get(key)
    if entry is not None and not all(_CACHES.get(f, {}).get(k) is h for f, k, h in entry[1]):
        entry = None
    _tally(family, entry is not None)
    if entry is not None:
        return entry[0].select("*")
    _BUILDS.deps = []
    try:
        df = build()
        deps = tuple(_BUILDS.deps)
    finally:
        _BUILDS.deps = None
    if any(df is h for _, _, h in deps) or not keep(df):
        return df
    cache.clear()
    cache[key] = (df, deps)
    return df.select("*")


def release(family: str | None = None) -> None:
    """Explicit teardown: unpersist and forget one family (or all)."""
    fams = [family] if family is not None else list(_CACHES)
    for fam in fams:
        for old in _CACHES.get(fam, {}).values():
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass
        _CACHES.pop(fam, None)
    for fam in [family] if family is not None else list(_ARTIFACTS):
        _ARTIFACTS.pop(fam, None)

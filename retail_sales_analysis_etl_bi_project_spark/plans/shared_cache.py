"""Managed persist scope for intermediate tables shared by several
consumers of ONE logical pipeline.

The registered single-query surface deliberately holds no unmanaged
caches: a query function returns a lazy plan, so a persist inside it
would outlive the query with nobody responsible for the memory (the
documented two-scan tradeoffs in text_tfidf_topterms, dedup_fuzzy_
name_pairs, and text_corpus_contrast). This module is the managed
version of that scope, and every persisted intermediate shared across
queries goes through it:

- one slot per cache FAMILY (dedup verified pairs and clusters, tf
  table, distinct-names table, ...),
  keyed by (applicationId, sf_dir, params);
- a key MISS first unpersists and drops every previous entry of that
  family (explicit unpersist: the cache holds at most one persisted
  plan per family, so repeated bench/test invocations can't accumulate
  storage), then persists the freshly built plan;
- `release()` drops everything eagerly for tests and pipeline
  teardown.

The applicationId in the key makes a dead session's stale handle
unreachable (its unpersist is wrapped — a stopped context must never
fail the next query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_CACHES: dict[str, dict[tuple, DataFrame]] = {}


def memo_persist(
    family: str, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the persisted DataFrame for (family, key), building it on
    first use; a new key evicts (and unpersists) the family's previous
    entry."""
    cache = _CACHES.setdefault(family, {})
    hit = cache.get(key)
    if hit is not None:
        return hit
    for old in cache.values():
        try:
            old.unpersist(blocking=False)
        except Exception:  # dead-context handle: unreachable, not fatal
            pass
    cache.clear()
    df = build().persist()
    cache[key] = df
    return df


_ARTIFACTS: dict[str, dict[tuple, object]] = {}


def memo_artifact(family: str, key: tuple, build: Callable[[], object]) -> object:
    """memo_persist for DRIVER-SIDE fitted artifacts (Bloom bitmaps,
    codebooks — plain Python values, nothing to unpersist): same
    one-slot-per-family, evict-on-key-miss discipline, same release()
    teardown, so every fitted-artifact cache in the repo shares one
    keying/eviction implementation."""
    cache = _ARTIFACTS.setdefault(family, {})
    if key not in cache:
        cache.clear()
        cache[key] = build()
    return cache[key]


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

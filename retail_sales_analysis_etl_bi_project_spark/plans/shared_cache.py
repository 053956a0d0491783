"""One memo for everything the plans layer builds once and reuses:
managed persists of intermediate tables shared by several consumers
(`memo_persist`), driver-side fitted artifacts such as Bloom bitmaps,
BPE merges and IVF codebooks (`memo_artifact`), and the registry's
built plans (`memo_plan`, one family ``plan:<query name>`` per
registered query; plans/registry.py states what it keeps).

The registered single-query surface deliberately holds no unmanaged
caches: a query function returns a lazy plan, so a persist inside it
would outlive the query with nobody responsible for the memory (the
documented two-scan tradeoffs in text_tfidf_topterms, dedup_fuzzy_
name_pairs, and text_corpus_contrast). This module is the managed
version of that scope:

- one slot per FAMILY (dedup verified pairs, tf table, a codebook
  refinement level, a registered query's plan, ...), holding the key,
  the value and the memo entries its build went through;
- one key rule: the memo builds every key itself from (applicationId,
  sf_dir, the caller's params) plus the content signature of the files
  under sf_dir (``sources.tables._path_sig``), so a build over
  rewritten inputs never reuses a value built over the old files. An
  sf_dir that ``os`` cannot list is keyed without a signature;
- a key MISS first drops the family's previous entry (unpersisting a
  persisted table, so repeated bench/test invocations can't
  accumulate storage), then builds and stores the new one;
- `release()` drops everything eagerly for tests and pipeline
  teardown; `counts()` reports every family's hits and misses.

The applicationId in the key makes a dead session's stale handle
unreachable (its unpersist is wrapped — a stopped context must never
fail the next query).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import _path_sig

_SLOTS: dict[str, tuple[tuple, object, tuple]] = {}  # family -> (key, value, deps)
_COUNTS: dict[str, list[int]] = {}  # family -> [hits, misses]
_COUNT_LOCK = threading.Lock()
# .deps: while memo_plan builds on this thread, the (family, value) of
# every memo entry the build went through; else None
_BUILDS = threading.local()


def counts() -> dict[str, tuple[int, int]]:
    """(hits, misses) of every family since the process started;
    ``release()`` drops entries, not counts."""
    with _COUNT_LOCK:
        return {fam: (h, m) for fam, (h, m) in _COUNTS.items()}


def _memo(
    family: str, spark: SparkSession, sf_dir: str, params: tuple, build: Callable
) -> tuple[object, bool]:
    """(value, stored) of the family's entry for the key of (spark,
    sf_dir, params). A hit needs an equal key and every entry its build
    went through still in place. A miss drops the family's entry and
    runs ``build``, which returns (value, deps, whether to store)."""
    key = (spark.sparkContext.applicationId, sf_dir, *params)
    try:
        key += (_path_sig(sf_dir),)
    except OSError:
        pass
    slot = _SLOTS.get(family)
    hit = (
        slot is not None
        and slot[0] == key
        and all(_SLOTS.get(f, (None, None))[1] is v for f, v in slot[2])
    )
    with _COUNT_LOCK:
        _COUNTS.setdefault(family, [0, 0])[0 if hit else 1] += 1
    if hit:
        value, stored = slot[1], True
    else:
        release(family)
        value, deps, stored = build()
        if stored:
            _SLOTS[family] = (key, value, deps)
    recording = getattr(_BUILDS, "deps", None)
    if recording is not None:
        recording.append((family, value))
    return value, stored


def memo_persist(
    family: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
    params: tuple = (),
) -> DataFrame:
    """The persisted DataFrame of ``build()`` for the family's key,
    built and persisted on first use."""
    return _memo(family, spark, sf_dir, params, lambda: (build().persist(), (), True))[0]


def memo_artifact(
    family: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], object],
    params: tuple = (),
) -> object:
    """The driver-side value of ``build()`` for the family's key, built
    on first use."""
    return _memo(family, spark, sf_dir, params, lambda: (build(), (), True))[0]


def memo_plan(
    family: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
    keep: Callable[[DataFrame], bool],
    params: tuple = (),
) -> DataFrame:
    """A new Dataset over the analyzed plan kept for the family's key;
    the kept DataFrame is never optimized, planned or executed.

    On a miss the plan is built and kept when ``keep(df)`` holds, with
    the memo entries its build went through: a hit whose entries are
    gone (evicted or released) is a miss, so a kept plan always
    optimizes over the same cached relations as a fresh build. A
    builder that returns a persist's own handle is served as built, as
    is a plan not kept. The kept DataFrame itself is never returned:
    ``select("*")`` gives each call a fresh QueryExecution, optimized,
    planned and executed anew (the optimizer removes the no-op
    projection)."""

    def build_kept():
        _BUILDS.deps = []
        try:
            df = build()
            deps = tuple(_BUILDS.deps)
        finally:
            _BUILDS.deps = None
        return df, deps, not any(df is v for _, v in deps) and keep(df)

    df, kept = _memo(family, spark, sf_dir, params, build_kept)
    return df.select("*") if kept else df


def release(family: str | None = None) -> None:
    """Explicit teardown: forget one family (or all), unpersisting a
    persisted table."""
    for fam in [family] if family is not None else list(_SLOTS):
        slot = _SLOTS.pop(fam, None)
        if slot is not None and getattr(slot[1], "is_cached", False):
            try:
                slot[1].unpersist(blocking=False)
            except Exception:  # dead-context handle: unreachable, not fatal
                pass

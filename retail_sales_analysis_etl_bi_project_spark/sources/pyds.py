"""Custom Python DataSource connector (Spark 4 ``pyspark.sql.datasource``
API): the synthetic retail feed exposed as a real pluggable source —
``spark.read.format("retail_synth")`` — instead of a library function.

Why this exists next to sources/generator.py (the spark.range
expression generator): the generator covers S7 (synthetic data as a
DataFrame program); this module covers the CONNECTOR surface — schema
declaration, partition planning, filter pushdown, and streaming offsets
— the way an external system (a feed API, a message queue, a legacy
store with no JDBC driver) would be wired into Spark when no built-in
format exists. Everything below is the public DataSource V2-for-Python
contract introduced in Spark 4.0.

Scale notes:
- partition planning: the row range splits into ``parts`` independent
  InputPartitions, so generation (or, in a real connector, fetching)
  runs once per executor slot — no driver loop, no single-task scan.
- filter pushdown: ``pushFilters`` absorbs sale_id range/equality
  predicates into the partition planner, so ``WHERE sale_id < k``
  prunes whole partitions before any worker starts (the Python-source
  equivalent of parquet's PushedFilters); unsupported predicates are
  returned to Spark, which re-applies them after the scan (the API's
  correctness contract — pushdown is an optimization, never a filter
  REPLACEMENT).
- rows are derived purely from sale_id via md5 (hashlib), so any
  partitioning of the id range yields byte-identical data — the
  determinism that makes the source's output verifiable and the
  streaming reader's replay exactly-once.
- the streaming reader tracks a monotone row-count offset the Kafka
  way: ``latestOffset`` reports the upstream's current end, committed
  offsets live in the checkpoint (the reader itself is stateless), and
  ``readBetweenOffsets`` replays any committed range bit-identically
  after restart.
- the writer half is a manifest-committed JSON-lines sink: tasks write
  uniquely-named part files, the driver's ``commit()`` publishes the
  manifest atomically — the V2 two-phase commit protocol.

This is an Arrow-batched Python path (rows cross via the Python
worker), i.e. the slow lane relative to JVM scans — correct for a
connector demo and for sources that are remote-API-bound anyway; bulk
synthetic data at 100 TB should keep using sources/generator.py's pure
expression pipeline.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

try:  # Spark 4.x only; import-gated like the VARIANT path
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
        LessThanOrEqual,
    )

    HAS_PYDS = True
except ImportError:  # pragma: no cover — Spark 3.x
    HAS_PYDS = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class DataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        pass


SCHEMA_DDL = (
    "sale_id bigint, customer_id bigint, category string, "
    "quantity int, unit_price double"
)

_CATEGORIES = (
    "Electronics",
    "Home & Kitchen",
    "Fashion",
    "Sports",
    "Toys",
    "Books",
    "Health",
    "Automotive",
)


def synth_row(sale_id: int) -> tuple:
    """The one source of truth for row content: every field derives
    from md5(sale_id), so workers generate identical rows regardless of
    which partition (or micro-batch) an id lands in, and tests can
    recompute expectations without Spark."""
    h = int.from_bytes(
        hashlib.md5(str(sale_id).encode()).digest()[:8], "big"
    )
    return (
        sale_id,
        h % 50_000 + 1,
        _CATEGORIES[(h >> 16) % len(_CATEGORIES)],
        (h >> 24) % 5 + 1,
        round(((h >> 8) % 990_000) / 100.0 + 100.0, 2),
    )


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int  # exclusive


class RetailSynthReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("parts", 8))
        self.lo = 1  # sale_id domain [lo, hi] inclusive
        self.hi = self.n_rows

    def pushFilters(self, filters):
        """Absorb sale_id range predicates into the planner; return
        everything else (Spark re-applies those post-scan).

        Two robustness contracts here:
        - bounds are computed EAGERLY in a plain loop and the residual
          filters returned as a list — a generator would only apply its
          lo/hi mutations if the caller fully drained it before
          partitions(), an undocumented ordering dependency that would
          silently disable pruning if the worker ever changed;
        - a comparand that isn't an int (``sale_id = 'abc'``, a NULL
          literal) must not blow up the scan — pushdown is an
          optimization, never a correctness gate — so any conversion
          failure hands that filter back to Spark untouched.
        """
        def ival(v):
            # exact ints only: int('abc') raises, but int(3.5) would
            # TRUNCATE — and an absorbed filter is never re-applied by
            # Spark, so a truncated bound would return wrong rows.
            # bool is an int subclass; a boolean comparand on a bigint
            # column is nonsense we also hand back.
            if isinstance(v, bool) or not isinstance(v, int):
                raise TypeError(f"non-integer comparand: {v!r}")
            return v

        residual = []
        for f in filters:
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            try:
                if col != "sale_id":
                    raise TypeError("not a sale_id predicate")
                if isinstance(f, EqualTo):
                    v = ival(f.value)
                    self.lo = max(self.lo, v)
                    self.hi = min(self.hi, v)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, ival(f.value) + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, ival(f.value))
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, ival(f.value) - 1)
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, ival(f.value))
                else:
                    residual.append(f)
            except (TypeError, ValueError):
                residual.append(f)
        return residual

    def partitions(self):
        lo, hi = self.lo, self.hi + 1  # half-open
        if hi <= lo:
            return [_RangePartition(lo, lo)]  # fully pruned: one empty split
        span = max(1, (hi - lo + self.n_parts - 1) // self.n_parts)
        return [
            _RangePartition(s, min(s + span, hi))
            for s in range(lo, hi, span)
        ]

    def read(self, partition: _RangePartition):
        for sale_id in range(partition.start, partition.end):
            yield synth_row(sale_id)


class RetailSynthStreamReader(DataSourceStreamReader):
    """Monotone row-count offsets, the Kafka discipline: latestOffset
    reports the upstream's CURRENT end (the ``rows`` option — restart
    the query with a larger value to model the feed growing), Spark
    checkpoints the committed offset, and each micro-batch covers
    (committed, latest]. The reader holds no offset state of its own —
    a restarted instance resumes purely from the checkpoint, and
    readBetweenOffsets replays any committed range bit-identically
    (rows derive from sale_id alone) — restart-safe exactly-once."""

    def __init__(self, options):
        self.batch_rows = int(options.get("batch_rows", 100))
        self.max_rows = int(options.get("rows", 1000))

    def initialOffset(self):
        return {"next_id": 1}

    def latestOffset(self):
        return {"next_id": self.max_rows + 1}

    def partitions(self, start, end):
        # split the batch's offset range into batch_rows-sized splits so
        # a large catch-up batch still reads at cluster width
        lo, hi = int(start["next_id"]), int(end["next_id"])
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        return [
            _RangePartition(s, min(s + self.batch_rows, hi))
            for s in range(lo, hi, self.batch_rows)
        ]

    def read(self, partition: _RangePartition):
        for sale_id in range(partition.start, partition.end):
            yield synth_row(sale_id)

    def readBetweenOffsets(self, start, end):
        return self.read(
            _RangePartition(int(start["next_id"]), int(end["next_id"]))
        )

    def commit(self, end):
        pass  # nothing to acknowledge upstream


class RetailSynthDataSource(DataSource):
    @classmethod
    def name(cls):
        return "retail_synth"

    def schema(self):
        return SCHEMA_DDL

    def reader(self, schema):
        return RetailSynthReader(self.options)

    def streamReader(self, schema):
        return RetailSynthStreamReader(self.options)

    def writer(self, schema, overwrite):
        # ManifestJsonWriter is defined below (inside the HAS_PYDS
        # guard); name resolution happens at call time.
        return ManifestJsonWriter(self.options, overwrite)


def register(spark) -> bool:
    """Register the format on a session; False on Spark 3.x (callers
    skip, same gating discipline as the VARIANT queries)."""
    if not HAS_PYDS:
        return False
    # the reader implements pushFilters(), which fails loud when the
    # pushdown conf is off; it is a runtime-settable SQL conf, so flip
    # it here for sessions not built by session.get_spark (which sets
    # it at build time).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(RetailSynthDataSource)
    return True


# ---------------------------------------------------------------- writer
# The sink half of the connector: a manifest-committed JSON-lines
# directory writer demonstrating the V2 two-phase commit protocol that
# gives file sinks job-level atomicity — each task writes a uniquely
# named part file and returns its path as the commit message; ONLY the
# driver-side commit() publishes the manifest listing exactly the
# committed files. A reader that honors the manifest (read_manifest_json
# below) can never observe a torn job: before commit the manifest is
# absent, after abort the orphaned part files are deleted, and a re-run
# overwrites the manifest wholesale. This is the same protocol Spark's
# own FileCommitProtocol implements JVM-side.

if HAS_PYDS:
    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    @dataclass
    class _PartFileCommit(WriterCommitMessage):
        path: str
        n_rows: int

    class ManifestJsonWriter(DataSourceWriter):
        def __init__(self, options, overwrite: bool):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("retail_synth sink requires option('path', ...)")
            self.overwrite = overwrite

        def write(self, iterator):
            """Task-side: stream rows to a uniquely named part file.
            The uuid suffix means a retried/zombie task can never
            clobber another attempt's file; losers simply go unlisted
            by the manifest (and are reaped by the next commit)."""
            import json as _json
            import os as _os
            import uuid as _uuid

            _os.makedirs(self.path, exist_ok=True)
            part = _os.path.join(
                self.path, f"part-{_uuid.uuid4().hex[:12]}.jsonl"
            )
            n = 0
            with open(part, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _PartFileCommit(path=part, n_rows=n)

        def commit(self, messages):
            """Driver-side: publish the manifest atomically (tmp +
            os.replace, the streaming stores' publish). Overwrite mode
            lists exactly THIS job's files; append mode merges them
            into the existing manifest (files union, row counts
            summed) so previously committed data survives —
            mode('append') used to silently behave as overwrite. In
            both modes, .jsonl files absent from the published
            manifest (earlier jobs in overwrite mode, lost task
            attempts in either) are reaped so the directory converges
            to the manifest."""
            import json as _json
            import os as _os

            from ..streaming.store import publish

            # manifest carries per-file row counts so an append merge
            # is a plain dict-union — idempotent under driver-side
            # commit retries (same messages → same uuid names → same
            # merged map), no double-counted n_rows.
            file_rows = {
                _os.path.basename(m.path): m.n_rows
                for m in messages
                if m is not None
            }
            manifest = _os.path.join(self.path, "_manifest.json")
            legacy_rows = 0
            if not self.overwrite and _os.path.exists(manifest):
                with open(manifest) as fh:
                    prev = _json.load(fh)
                legacy_rows = int(prev.get("legacy_rows", 0))
                prev_rows = prev.get("file_rows")
                if prev_rows is None:
                    # manifest written before per-file counts existed:
                    # its files merge at 0 and the COMMITTED TOTAL is
                    # carried as a remainder (and re-persisted as
                    # legacy_rows so later appends keep carrying it) —
                    # otherwise n_rows would silently undercount every
                    # pre-format-change row.
                    prev_rows = dict.fromkeys(prev.get("files", []), 0)
                    legacy_rows += int(prev.get("n_rows", 0))
                file_rows = prev_rows | file_rows
            files = sorted(file_rows)
            doc = {
                "files": files,
                "n_rows": legacy_rows + sum(file_rows.values()),
                "file_rows": file_rows,
            }
            if legacy_rows:
                doc["legacy_rows"] = legacy_rows
            publish(manifest, doc)
            keep = set(files) | {"_manifest.json"}
            for f in _os.listdir(self.path):
                if f.endswith(".jsonl") and f not in keep:
                    _os.remove(_os.path.join(self.path, f))

        def abort(self, messages):
            import os as _os

            for m in messages:
                if m is not None and _os.path.exists(m.path):
                    _os.remove(m.path)



def read_manifest_json(spark, path: str):
    """Manifest-honoring reader for the sink above: only files listed in
    _manifest.json are visible — uncommitted or orphaned part files are
    invisible by construction."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_manifest.json")) as fh:
        manifest = _json.load(fh)
    files = [_os.path.join(path, f) for f in manifest["files"]]
    return spark.read.json(files) if files else None

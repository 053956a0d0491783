"""stream_ingest: incremental ingest through the streaming maintainers.

One operation is one ingest of the seeded ``orders`` and ``events``
tables. Untimed, the seed and the operation number deal each table's
rows into ``N_CHUNKS`` parquet files. Timed, the streaming.kpi
maintainer drains the orders files and the streaming.anomaly
maintainer the events files, each as ``N_CHUNKS`` single-file
micro-batches (availableNow, maxFilesPerTrigger=1) into fresh targets
and checkpoints; then operators.report's validation report runs over
the landed files. Operations run one after another.

Checks after each ingest, untimed: the anomaly readout over the
maintained store equals the one-shot ``events_anomaly_daily`` query;
the maintained per-month order counts and revenue equal a DuckDB
aggregate of the source; the listener saw every source row ingested in
``2 * N_CHUNKS`` non-empty micro-batches; the report's row and null
counts equal the source's.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from retail_sales_analysis_etl_bi_project_spark.operators.report import validation_report
from retail_sales_analysis_etl_bi_project_spark.plans.stat_queries import (
    events_anomaly_daily,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table
from retail_sales_analysis_etl_bi_project_spark.streaming.anomaly import (
    anomaly_readout,
    maintain_volume_stream,
)
from retail_sales_analysis_etl_bi_project_spark.streaming.kpi import (
    maintain_kpi_stream,
    read_kpi,
)

import datagen
from common import Ctx, Outcome, duck, run_ops
from probes import BatchListener, median, mix_ms

N_CHUNKS = 4
SCALE, N_EVENTS = 0.1, 100_000  # 150,000 orders
SMOKE_SCALE, SMOKE_EVENTS = 0.001, 1000
TABLES = ("orders", "events")
PHASES = (
    ("streaming.add_batch_ms", "addBatch"),
    ("streaming.wal_commit_ms", "walCommit"),
    ("streaming.commit_offsets_ms", "commitOffsets"),
    ("streaming.query_planning_ms", "queryPlanning"),
    ("streaming.latest_offset_ms", "latestOffset"),
)
SPANS = (
    ("streaming.kpi_drain_s", "streaming.kpi"),
    ("streaming.anomaly_drain_s", "streaming.anomaly"),
    ("operators.validation_report_s", "operators.validation_report"),
)


class StreamIngest:
    name = "stream_ingest"
    layer_metrics = tuple(m for m, _ in SPANS) + ("streaming.batch_ms",) + tuple(
        m for m, _ in PHASES
    ) + (
        "streaming.batches",
        "streaming.rows_per_batch",
    )

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir = f"{ctx.work}/stream_src"
        self._ingests = 0

    def setup(self) -> None:
        spark = self.ctx.spark
        scale, n_events = (SMOKE_SCALE, SMOKE_EVENTS) if self.ctx.smoke else (SCALE, N_EVENTS)
        datagen.write_star(self.dir, self.ctx.seed, scale, n_events, tables=TABLES)
        self.tables = {t: pq.read_table(f"{self.dir}/{t}.parquet") for t in TABLES}
        self.rows = sum(t.num_rows for t in self.tables.values())  # source rows per ingest
        self.want_report = {
            t: (tab.num_rows, sum(c.null_count for c in tab.columns))
            for t, tab in self.tables.items()
        }
        self.schemas = {t: load_table(spark, self.dir, t).schema for t in TABLES}
        self.want_flags = sorted(map(tuple, events_anomaly_daily(spark, self.dir).collect()))
        con = duck(self.dir, ("orders",))
        try:
            self.want_kpi = sorted(con.execute(
                "SELECT year(o_orderdate), month(o_orderdate), count(*), "
                "sum(CAST(o_totalprice AS DECIMAL(18, 2))) "
                "FROM orders GROUP BY ALL"
            ).fetchall())
        finally:
            con.close()
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)

    def teardown(self) -> None:
        self.ctx.spark.streams.removeListener(self.listener)

    def warmup(self) -> None:
        # the first ingest's deal of rows into files is never timed
        _, _, problems = self._ingest()
        if problems:
            raise RuntimeError(f"warm-up ingest failed: {problems}")

    def measure(self, seconds: float) -> Outcome:
        out = Outcome()
        walls: list[float] = []
        batches: list[dict] = []

        def op() -> None:
            out.attempted += 1
            wall, got, problems = self._ingest()
            if problems:
                out.fail("; ".join(problems))
                return
            walls.append(wall)
            batches.extend(got)

        run_ops(seconds, op)
        out.lat_ms = [b["ms"]["triggerExecution"] for b in batches]
        by_table = {t: [] for t in TABLES}
        for b in batches:
            by_table[next(t for t in TABLES if f"/{t}_src" in b["source"])].append(
                b["ms"]["triggerExecution"]
            )
        out.op_ms = mix_ms(by_table)
        # rows over the summed wall of every checked ingest: a mean over
        # the whole window, as a run holds only a few ingests
        out.work_per_s = self.rows * len(walls) / sum(walls) if walls else 0.0
        spans = self.ctx.tracer
        out.layer = {m: median(spans.durations(s)) for m, s in SPANS}
        out.layer["streaming.batch_ms"] = median(out.lat_ms)
        for metric, phase in PHASES:
            out.layer[metric] = median([b["ms"].get(phase, 0) for b in batches])
        if walls:
            out.layer["streaming.batches"] = len(batches) / len(walls)
            out.layer["streaming.rows_per_batch"] = self.rows * len(walls) / len(batches)
        return out

    def _chunks(self, rng, table: str, src: str) -> None:
        """Write ``table`` as N_CHUNKS parquet files, rows assigned to a
        chunk at random."""
        t = self.tables[table]
        chunk = rng.integers(0, N_CHUNKS, t.num_rows)
        os.makedirs(src)
        for i in range(N_CHUNKS):
            pq.write_table(t.filter(chunk == i), f"{src}/chunk_{i}.parquet")

    def _ingest(self) -> tuple[float, list[dict], list[str]]:
        """One ingest and its checks: (seconds the timed part took, its
        non-empty micro-batches, what went wrong)."""
        rng = np.random.default_rng([self.ctx.seed, self._ingests])
        self._ingests += 1
        spark, tracer, listener = self.ctx.spark, self.ctx.tracer, self.listener
        base = f"{self.ctx.work}/stream/ingest{self._ingests}"
        for t in TABLES:
            self._chunks(rng, t, f"{base}/{t}_src")

        def source(table: str):
            return (
                spark.readStream.schema(self.schemas[table])
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{base}/{table}_src")
            )

        first_batch, done = len(listener.batches), listener.terminated
        tag = f"ingest {self._ingests}"
        try:
            with tracer.span("bench.ingest", f"{self.name}-{self._ingests}"):
                t0 = time.perf_counter()
                with tracer.span("streaming.kpi"):
                    maintain_kpi_stream(
                        source("orders"), f"{base}/kpi", f"{base}/kpi_ckpt", timeout_sec=120
                    )
                with tracer.span("streaming.anomaly"):
                    maintain_volume_stream(
                        source("events"), f"{base}/volume", f"{base}/volume_ckpt",
                        timeout_sec=120,
                    )
                with tracer.span("operators.validation_report"):
                    report = validation_report({
                        t: spark.read.schema(self.schemas[t]).parquet(f"{base}/{t}_src")
                        for t in TABLES
                    })
                wall = time.perf_counter() - t0
            listener.wait_terminated(done + 2)
            got_flags = sorted(map(tuple, anomaly_readout(spark, f"{base}/volume").collect()))
            got_kpi = read_kpi(spark, f"{base}/kpi").collect()
        except Exception as e:  # a failed ingest is counted, not fatal
            shutil.rmtree(base, ignore_errors=True)
            return 0.0, [], [f"{tag}: {type(e).__name__}: {e}"[:300]]
        shutil.rmtree(base, ignore_errors=True)
        batches = [b for b in listener.batches[first_batch:] if b["rows"] > 0]
        lines = dict(line.rsplit(": ", 1) for line in report.splitlines() if ": " in line)
        want = {(y, m): (n, float(rev)) for y, m, n, rev in self.want_kpi}
        have = {(r["year"], r["month"]): (r["n_orders"], r["revenue"]) for r in got_kpi}
        problems = [
            msg for bad, msg in (
                (got_flags != self.want_flags,
                 "streamed anomaly flags differ from the batch query"),
                (want.keys() != have.keys() or any(
                    have[k][0] != want[k][0]
                    or abs(have[k][1] - want[k][1]) > 1e-6 * max(1.0, want[k][1])
                    for k in want
                ), "maintained KPI differs from the source aggregate"),
                (sum(b["rows"] for b in batches) != self.rows,
                 "listener saw a different number of ingested rows"),
                (len(batches) != 2 * N_CHUNKS,
                 f"{len(batches)} non-empty micro-batches, not {2 * N_CHUNKS}"),
                (any(
                    lines.get(f"rows in {t}") != str(n)
                    or lines.get(f"null cells in {t}") != str(nulls)
                    for t, (n, nulls) in self.want_report.items()
                ), "validation report differs from the source counts"),
            ) if bad
        ]
        if problems:
            return wall, batches, [f"{tag}: " + "; ".join(problems)]
        return wall, batches, []

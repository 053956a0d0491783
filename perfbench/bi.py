"""bi_dashboard: interactive dashboard reads.

Closed loop, ``CLIENTS`` threads in one process; each client sends at
least one query and no new one after the deadline. Each client deals
itself the twelve dashboard queries in a seeded shuffled order, runs
the deck, and deals again, so every run serves the same query mix in
a seed-dependent order. Each query is a builder call (the lazy plan)
plus a collect; every response is compared with the query's DuckDB
twin, computed once at set-up over the same generated tables.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from common import Ctx, Outcome, canonical, duck, oracle_rows
from probes import median, mix_ms

QUERIES = (
    "q01_top5_products_by_revenue",
    "q02_monthly_revenue_trend",
    "q03_revenue_by_supplier_nation",
    "q04_custbal_segment_revenue",
    "k_core_kpis",
    "k4_category_revenue_share",
    "tpch_q1_pricing_summary",
    "agg_rollup_year_month",
    "bi_revenue_cube_status_year",
    "bi_pareto_brand_products",
    "window_top3_parts_per_brand",
    "bi_daily_revenue_gapfill",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CLIENTS = 2
WARMUP_THREADS = 4  # each warm-up round runs each query once, 4 at a time
WARMUP_ROUNDS = 2
SCALE = 0.01  # 60,000 lineitem rows
SMOKE_SCALE = 0.001


class BiDashboard:
    name = "bi_dashboard"
    layer_metrics = ("plans.build_ms", "plans.action_ms", "plans.result_rows")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir = f"{ctx.work}/bi"
        self.expected: dict[str, tuple] = {}
        self._round = 0

    def setup(self) -> None:
        datagen.write_star(
            self.dir, self.ctx.seed, SMOKE_SCALE if self.ctx.smoke else SCALE, 0, TABLES
        )
        con = duck(self.dir, TABLES)
        try:
            self.expected = {q: oracle_rows(con, self.ctx.oracles[q]) for q in QUERIES}
        finally:
            con.close()

    def warmup(self) -> None:
        for _ in range(WARMUP_ROUNDS):
            out = self._loop(
                deadline=None, ops_per_client=len(QUERIES) // WARMUP_THREADS, warm=True
            )
            if out.failed:
                raise RuntimeError(f"warm-up queries failed: {out.errors}")

    def measure(self, seconds: float) -> Outcome:
        return self._loop(deadline=time.perf_counter() + seconds, ops_per_client=None)

    def _loop(self, deadline: float | None, ops_per_client: int | None,
              warm: bool = False) -> Outcome:
        self._round += 1
        out = Outcome()
        lock = threading.Lock()
        by_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        build_ms: list[float] = []
        action_ms: list[float] = []
        result_rows: list[int] = []
        tracer, spark = self.ctx.tracer, self.ctx.spark

        def client(cid: int) -> None:
            rng = np.random.default_rng([self.ctx.seed, self._round, cid])
            deck: list[str] = []
            k = 0
            while True:
                if ops_per_client is not None and k >= ops_per_client:
                    return
                if k and deadline is not None and time.perf_counter() >= deadline:
                    return
                if warm and not deck:
                    # warm-up: the threads split one deck, so each query runs once
                    deck = list(QUERIES[cid::threads])
                elif not deck:
                    deck = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
                name = deck.pop()
                req = f"{self.name}-{self._round}-{cid}-{k}"
                k += 1
                try:
                    with tracer.span("bench.query", req):
                        t0 = time.perf_counter()
                        with tracer.span("plans.build"):
                            df = self.ctx.queries[name](spark, self.dir)
                        t1 = time.perf_counter()
                        with tracer.span("spark.collect"):
                            rows = df.collect()
                        t2 = time.perf_counter()
                    ok = canonical(df.columns, rows) == self.expected[name]
                except Exception as e:  # a failed query is counted, not fatal
                    with lock:
                        out.attempted += 1
                        out.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                with lock:
                    out.attempted += 1
                    if not ok:
                        out.fail(f"{name}: result differs from the DuckDB twin")
                        continue
                    out.lat_ms.append((t2 - t0) * 1000)
                    by_query[name].append((t2 - t0) * 1000)
                    build_ms.append((t1 - t0) * 1000)
                    action_ms.append((t2 - t1) * 1000)
                    result_rows.append(len(rows))

        threads = WARMUP_THREADS if warm else CLIENTS
        with ThreadPoolExecutor(threads) as pool:
            for f in [pool.submit(client, c) for c in range(threads)]:
                f.result()
        # A run serves a few samples of each of the twelve queries, so
        # which of them it happened to draw more often would move a plain
        # median or count by more than the bound. Both figures are
        # therefore taken for the equal-weight mix, from each query's
        # median latency: their geometric mean, and (Little's law for a
        # closed loop) clients over their arithmetic mean.
        out.op_ms = mix_ms(by_query)
        per_query = [median(v) for v in by_query.values() if v]
        mean_ms = float(np.mean(per_query)) if per_query else 0.0
        out.work_per_s = CLIENTS * 1000 / mean_ms if mean_ms else 0.0
        out.layer = {
            "plans.build_ms": median(build_ms),
            "plans.action_ms": median(action_ms),
            "plans.result_rows": float(np.mean(result_rows)) if result_rows else 0.0,
        }
        return out

"""Shared state for one benchmark process and the output-check helpers
every workload uses."""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import duckdb

from probes import SparkCounters, Tracer


@dataclass
class Ctx:
    spark: object
    queries: dict
    oracles: dict
    work: str
    seed: int
    smoke: bool
    tracer: Tracer
    counters: SparkCounters


@dataclass
class Outcome:
    """What one measured window produced."""

    attempted: int = 0
    failed: int = 0
    lat_ms: list[float] = field(default_factory=list)
    op_ms: float = 0.0
    work_per_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def run_ops(seconds: float, op) -> None:
    """Call ``op`` at least once, and again only while the next call,
    if it lasts as long as the last one, ends within ``seconds``."""
    deadline = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        op()
        if time.perf_counter() + (time.perf_counter() - t) > deadline:
            return


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-name-sorted, row-sorted string form: the order-insensitive
    comparison the oracle twins are written for."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in idx) for r in rows)


def duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per parquet table in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return canonical([d[0] for d in res.description], res.fetchall())


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files

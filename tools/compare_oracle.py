"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet
tables; compare row-count, column names, and order-insensitive values.

Usage: python tools/compare_oracle.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

from retail_sales_analysis_etl_bi_project_spark.session import get_spark
from retail_sales_analysis_etl_bi_project_spark.sources.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # stringify at full precision; exact-decimal pipelines should agree
        return repr(v)
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return sorted(cols), out


def banded_compare(name, scols, srows, dcols, drows, bands):
    """Rows + schema + tolerance-band check for sketch queries (r11
    VERDICT item 5): key/exact columns must string-match exactly; each
    banded column's Spark value must land within the declared relative
    band of the DuckDB EXACT value. Rows align by sorting on the
    non-banded (key) columns. Returns None on pass, an error string on
    the first violation."""
    if sorted(scols) != sorted(dcols):
        return f"column mismatch spark={sorted(scols)} duckdb={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    keys = [c for c in sorted(scols) if c not in bands]
    sidx = {c: scols.index(c) for c in scols}
    didx = {c: dcols.index(c) for c in dcols}

    def keyed(rows, idx):
        return sorted(rows, key=lambda r: tuple(norm_cell(r[idx[c]]) for c in keys))

    for srow, drow in zip(keyed(srows, sidx), keyed(drows, didx)):
        for c in keys:
            if norm_cell(srow[sidx[c]]) != norm_cell(drow[didx[c]]):
                return (
                    f"key/exact column {c!r} mismatch: "
                    f"spark={srow[sidx[c]]!r} duckdb={drow[didx[c]]!r}"
                )
        for c, (kind, bound) in bands.items():
            sv, dv = srow[sidx[c]], drow[didx[c]]
            if sv is None or dv is None:
                if sv is None and dv is None:
                    continue
                return f"banded column {c!r} null mismatch: {sv!r} vs {dv!r}"
            sv, dv = float(sv), float(dv)
            if kind != "rel":
                # explicit error, not assert: must survive python -O
                # (the __spark_entry__ guard precedent) and record as a
                # per-query FAIL instead of crashing the whole gate
                return f"unknown band kind {kind!r} for column {c!r}"
            if abs(sv - dv) > bound * max(abs(dv), 1e-12):
                return (
                    f"banded column {c!r} outside ±{bound:.0%} of exact: "
                    f"spark={sv} exact={dv}"
                )
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark("oracle-compare")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if name_filter and not any(
            f and f in name for f in name_filter.split(",")
        ):
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            from retail_sales_analysis_etl_bi_project_spark.plans.registry import (
                BANDED_ORACLES,
            )

            if name in BANDED_ORACLES:
                sql, bands = BANDED_ORACLES[name]
                try:
                    res = con.execute(sql)
                    dcols = [d[0] for d in res.description]
                    drows = res.fetchall()
                except Exception as e:
                    print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
                    n_fail += 1
                    continue
                err = banded_compare(name, scols, srows, dcols, drows, bands)
                if err:
                    print(f"FAIL {name}: {err}")
                    n_fail += 1
                else:
                    band_desc = ", ".join(
                        f"{c} ±{b:.0%}" for c, (_, b) in bands.items()
                    )
                    print(
                        f"PASS-BAND {name}: {len(srows)} rows "
                        f"(exact keys; {band_desc} vs exact oracle)"
                    )
                    n_pass += 1
                continue
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols}")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL {name}: column mismatch spark={sc} duckdb={dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duckdb={len(dr)}")
            n_fail += 1
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted-row {bad}:")
            print(f"  spark : {sr[bad]}")
            print(f"  duckdb: {dr[bad]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sr)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

"""Dump the FULL .explain("formatted") output for named queries to
per-query text files — the before/after plan evidence the optimization
rounds commit under plans/rNN/.

Usage: python tools/explain_full.py <outdir> <suffix> <q1,q2,...> [sf_dir] [repo_root]

Writes <outdir>/<query>_<suffix>.txt for each query. ``repo_root`` lets
the tool run against a checked-out historical tree (a git worktree) to
produce the _before captures.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    root = sys.argv[5] if len(sys.argv) > 5 else ROOT
    sys.path.insert(0, root)

    from retail_sales_analysis_etl_bi_project_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("explain-full")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        buf = io.StringIO()
        with redirect_stdout(buf):
            qs[name](spark, sf_dir).explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("wrote", path)


if __name__ == "__main__":
    main()

"""Registry-wide plan/cost sweep (r15 VERDICT items 4 and 5): for EVERY
registered query, record

  - build_sec : python plan construction (registered callable; any
                driver-side fitted-artifact collects land here)
  - exec_sec  : one timed action (collect(), or count() for the
                fact-sized results in COUNT_ONLY_PREFIXES)
  - jobs      : scheduler jobs the action cost
  - scans     : "Scan parquet" node count in the formatted initial plan
                (repeated-subtree detector — the pattern behind the
                curation and copurchase persists)
  - exchanges : Exchange node count in the formatted initial plan
  - python_nodes : BatchEvalPython/ArrowEvalPython/MapInPandas/
                FlatMapGroupsInPandas nodes (JVM<->Python boundaries)
  - codegen_compiles : classes Janino compiled over build plus action
                (CodegenMetrics compilation count delta). The sum over
                a pass, printed last, is the registry's generated-code
                working set less the warm-ups' classes (each class
                compiles once while the cache holds it): the figure
                ``session.CODEGEN_CACHE_ENTRIES`` is sized against.
                Re-check it when queries are added or removed.
  - memoized  : whether the registry keeps the query's built plan
                (plans/registry.py): a second registry call, made
                after the timed action, is a hit in the plan family's
                counter (shared_cache.counts). The count of memoized
                queries is printed last.

One pass per query (cold within the session, after a few warm-ups),
with between-queries hygiene so one query's persists and fitted
artifacts don't subsidize the next. Output: JSON table to stdout +
SWEEP.json. ``only_csv`` restricts the sweep to the named queries,
e.g. one cold pass of a single query. Warm repeats and run-to-run spread are perfbench's job.

Usage: python tools/sweep_registry.py [sf_dir] [out_path] [only_csv]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from retail_sales_analysis_etl_bi_project_spark.plans import shared_cache  # noqa: E402
from retail_sales_analysis_etl_bi_project_spark.session import get_spark  # noqa: E402

# Queries whose result is fact-sized: count() instead of collect() so the
# sweep measures the plan, not driver materialization of 60k+ rows.
COUNT_ONLY_PREFIXES = (
    "etl_fact",
    "window_customer",
    "etl_snapshot",
    "corpus_chunk",
    "text_tfidf",
    "pipeline_term",
)


def _post_query_hygiene(spark) -> None:
    """Between-queries measurement hygiene, on success AND failure:

    - release every shared_cache entry. A persisted table would
      otherwise stay pinned in executor storage for every SUBSEQUENT
      query, and System.gc() can't reclaim a live shared_cache
      reference. Fitted artifacts go too (Bloom bitmaps, BPE merges,
      covariance moments, IVF codebooks), so each query's row includes
      its own fits.
    - nudge the JVM to free the previous query's dead weight
      (localCheckpoint blocks, broadcast vars — ContextCleaner only
      reclaims them after a GC notices the dead references) OUTSIDE any
      timed window, so one query's garbage doesn't surface as GC pauses
      billed to the next query."""
    shared_cache.release()
    try:
        spark._jvm.System.gc()
    except Exception:
        pass


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/SWEEP.json"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None

    import __spark_entry__ as entry

    qs = entry.queries()
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    for warm in (
        "q01_top5_products_by_revenue",
        "events_hourly_agg",
        "dedup_hash_groups",
        "sim_bruteforce_topk",
        "multimodal_feature_extract",
    ):
        try:
            qs[warm](spark, sf_dir).count()
        except Exception:
            pass
    _post_query_hygiene(spark)
    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    table: dict[str, dict] = {}
    names = only if only else sorted(qs)
    for name in names:
        row: dict = {}
        try:
            compiles = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            row["build_sec"] = round(time.perf_counter() - t0, 3)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            row["scans"] = len(re.findall(r"Scan parquet", plan))
            row["exchanges"] = len(re.findall(r"\bExchange\b", plan))
            row["python_nodes"] = len(
                re.findall(
                    r"BatchEvalPython|ArrowEvalPython|MapInPandas|"
                    r"FlatMapGroupsInPandas|MapInArrow",
                    plan,
                )
            )
            row["plan_lines"] = plan.count("\n")
            jobs_before = set(tracker.getJobIdsForGroup() or [])
            t1 = time.perf_counter()
            n = (
                df.count()
                if name.startswith(COUNT_ONLY_PREFIXES)
                else len(df.collect())
            )
            row["exec_sec"] = round(time.perf_counter() - t1, 3)
            row["jobs"] = len(set(tracker.getJobIdsForGroup() or []) - jobs_before)
            row["rows"] = n
            row["codegen_compiles"] = (
                codegen.METRIC_COMPILATION_TIME().getCount() - compiles
            )
            hits = shared_cache.counts().get(f"plan:{name}", (0, 0))[0]
            qs[name](spark, sf_dir)
            row["memoized"] = shared_cache.counts()[f"plan:{name}"][0] > hits
        except Exception as e:  # noqa: BLE001 — partial table > no table
            row["error"] = f"{type(e).__name__}: {e}"[:200]
        table[name] = row
        print(json.dumps({"query": name, **row}), flush=True)
        _post_query_hygiene(spark)
        with open(out_path, "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
    top = sorted(
        (
            (r.get("build_sec", 0) + r.get("exec_sec", 0), n)
            for n, r in table.items()
        ),
        reverse=True,
    )[:20]
    print(json.dumps({"top20_total": [[n, round(s, 2)] for s, n in top]}))
    print(json.dumps({"codegen_compiles": sum(
        r.get("codegen_compiles", 0) for r in table.values()
    )}))
    print(json.dumps({"memoized": sum(bool(r.get("memoized")) for r in table.values()),
                      "queries": len(table)}))


if __name__ == "__main__":
    main()

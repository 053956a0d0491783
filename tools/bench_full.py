"""One-off full-registry bench (r6 VERDICT item 8): wall-time EVERY
registered query once at $SPARK_GRAFT_SF_DIR (default sf0.1), including
the all-pairs baselines and sampled variants the headline bench.py
excludes by design, so each of the 84 registered queries has at least
one recorded measurement. Writes BENCH_FULL.json at the repo root.

Single repeat, same warm-up + calibration discipline as bench.py; the
artifact records per-query wall seconds, the action-overhead
calibration, and any errors. Not driver-facing — bench.py remains the
per-round headline contract.

Resumable: pass --resume to keep the timings already in BENCH_FULL.json
and run only the registered queries it lacks (the artifact is written
incrementally per query, so a killed run — e.g. session end during the
~17-min dedup_family_recall all-pairs audit — leaves a valid prefix).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from retail_sales_analysis_etl_bi_project_spark.session import get_spark

# Sampled-truth posture BEFORE the registry import (the oracle strings
# and _truth_docs predicate bind at decoration time): the four
# recall-audit queries whose truth sets embed a doc-quadratic all-pairs
# baseline (dedup_family_recall 33.3s, dedup_minhash_recall_tuning
# 28.7s, dedup_ngram_jaccard 19.8s cold at r13 — ~21% of the whole cold
# registry) run over the deterministic md5-prefix sample here, exactly
# the posture the REPLICA_SF01 gate already hash-checks every round
# (r13 VERDICT item 3). The recorded `truth_sample_k` labels the
# artifact so the numbers can't be read as full-corpus costs; export
# SPARK_GRAFT_TRUTH_SAMPLE_HEX=0 to time the full-corpus baselines.
os.environ.setdefault("SPARK_GRAFT_TRUTH_SAMPLE_HEX", "3")

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# fact-sized results: count() instead of collect() (bench.py discipline)
COUNT_ONLY_PREFIXES = (
    "etl_fact",
    "window_customer",
    "etl_snapshot",
    "corpus_chunk",
    "text_tfidf",
    "pipeline_term",
)


def main() -> None:
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out_path = os.path.join(ROOT, "BENCH_FULL.json")
    resume = "--resume" in sys.argv
    prior_timings: dict[str, float] = {}
    prior_errors: dict[str, str] = {}
    # foreign top-level sections other tools merge into the artifact
    # (e.g. an older artifact's "streaming" section) must survive a rewrite —
    # preserved even WITHOUT --resume (review finding, r9: a full
    # re-bench silently dropped the streaming throughput numbers)
    _OWN_KEYS = {
        "metric", "value", "unit", "sf", "repeats",
        "action_overhead_ms", "n_queries", "n_errors", "queries",
        "errors", "truth_sample_k",
    }
    foreign: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
        except (OSError, ValueError):
            # a truncated/corrupt artifact must not abort a fresh
            # bench that would simply rewrite it (resume falls back to
            # a full run — the honest recovery)
            prior = {}
        foreign = {k: v for k, v in prior.items() if k not in _OWN_KEYS}
        if resume:
            prior_timings = dict(prior.get("queries", {}))
            prior_errors = {
                k: v
                for k, v in prior.get("errors", {}).items()
                if not k.startswith("warmup:")
            }
    spark = get_spark("bench-full")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    errors: dict[str, str] = {}
    for warm in (
        "q01_top5_products_by_revenue",
        "events_hourly_agg",
        "dedup_hash_groups",
        "sim_bruteforce_topk",
        "multimodal_feature_extract",
    ):
        try:
            qs[warm](spark, SF_DIR).count()
        except Exception as e:  # noqa: BLE001
            errors[f"warmup:{warm}"] = f"{type(e).__name__}: {e}"[:300]

    cal = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(1000).count()
        cal.append(time.perf_counter() - t0)
    overhead_ms = round(statistics.median(cal) * 1000, 1)

    timings: dict[str, float] = dict(prior_timings)
    errors.update(prior_errors)
    for name, fn in qs.items():
        if name in timings:
            continue
        # a prior error is retried on --resume (it may have been the kill)
        errors.pop(name, None)
        try:
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = (
                df.count()
                if name.startswith(COUNT_ONLY_PREFIXES)
                else len(df.collect())
            )
            timings[name] = round(time.perf_counter() - t0, 3)
            assert n >= 0
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        try:
            from retail_sales_analysis_etl_bi_project_spark.plans import (
                shared_cache,
            )

            shared_cache.release()  # bench.py's between-queries hygiene
        except Exception:
            pass
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        # foreign sections spread FIRST so freshly computed fields
        # always win a key collision with stale prior-file values
        # (review finding, r9)
        doc = {
            **foreign,
            "metric": "full_registry_wall_once",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "repeats": 1,
            "truth_sample_k": int(
                os.environ.get("SPARK_GRAFT_TRUTH_SAMPLE_HEX", "0")
            ),
            "action_overhead_ms": overhead_ms,
            "n_queries": len(timings),
            "n_errors": len(errors),
            "queries": timings,
            "errors": errors,
        }
        with open(out_path + ".tmp", "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(out_path + ".tmp", out_path)
    print(
        json.dumps(
            {
                "metric": "full_registry_wall_once",
                "value": round(sum(timings.values()), 3),
                "n_queries": len(timings),
                "n_errors": len(errors),
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()

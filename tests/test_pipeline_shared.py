"""Managed persist scope (plans/shared_cache.py) and the composed
term-statistics pipeline (pipeline_term_stats_shared): the r6 VERDICT
item-5 proof obligations — every tf consumer reads the cached table
(InMemoryTableScan), the corpus parquet is scanned once, eviction
unpersists, the fuzzy-name query's names stage is served from the
same scope, and release() tears down the dedup pairs and clusters."""

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entrymod
from retail_sales_analysis_etl_bi_project_spark.plans import shared_cache
from retail_sales_analysis_etl_bi_project_spark.plans.analysis_queries import (
    _shared_tf,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_node_ids(plan: str) -> set:
    """Distinct ``(N) Scan parquet`` node ids in a formatted explain.

    THE plan-contract idiom (r11 lesson): the formatted tree line does
    NOT carry the parquet path, so filters like
    ``"Scan parquet" in ln and "documents" in ln`` are vacuously empty
    — they can never fail. Counting distinct scan node ids is
    path-blind but actually load-bearing: a shared cached-build scan
    keeps ONE id however many InMemoryTableScans consume it, and every
    un-shared re-scan adds an id. test_scan_node_ids_detects_scans is
    the deliberate-failure self-check."""
    import re

    return set(re.findall(r"\((\d+)\) Scan parquet", plan))


def test_scan_node_ids_detects_scans(spark):
    """Self-check for the node-id idiom: a plain parquet read shows
    exactly one scan node; a self-union of two reads shows two; and the
    legacy line-filter idiom is CONFIRMED vacuous on the same plan (the
    formatted tree line never carries the path, so it matches nothing
    even though the scan is right there)."""
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    one = formatted_plan(docs)
    assert len(scan_node_ids(one)) == 1, one[:1500]
    two = formatted_plan(docs.unionAll(load_table(spark, SF_DIR, "documents").select("doc_id")))
    assert len(scan_node_ids(two)) == 2, two[:1500]
    # the old idiom cannot see the scan it claims to filter for
    legacy = [
        ln for ln in one.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert legacy == []  # vacuous — why the idiom was retired


def test_memo_persist_returns_same_handle_and_evicts_old_key(spark):
    shared_cache.release("term_tf")
    a = _shared_tf(spark, SF_DIR)
    b = _shared_tf(spark, SF_DIR)
    assert a is b  # key hit: no rebuild, no second persist
    assert a.storageLevel.useMemory  # actually persisted
    # a different key evicts (and unpersists) the old entry
    c = _shared_tf(spark, "/root/testdata/sf0.01")
    assert c is not a
    assert not a.storageLevel.useMemory  # old handle unpersisted
    shared_cache.release("term_tf")
    assert not c.storageLevel.useMemory  # explicit release unpersists


def test_pipeline_plan_reuses_cache_single_corpus_scan(spark, qs):
    shared_cache.release("term_tf")
    df = qs["pipeline_term_stats_shared"](spark, SF_DIR)
    plan = formatted_plan(df)
    # every tf consumer (df derivation, tfidf join input, contrast
    # counts) reads the persisted table...
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    # ...and the whole plan holds exactly ONE distinct parquet scan
    # node: the single tokenize scan inside the cached relation's
    # build, printed once per consumer but under the SAME node id.
    # (Node-id idiom, r11 VERDICT item 6 — the old "no 'Scan parquet'
    # + 'documents' on one line" filter was vacuous, and migrating it
    # immediately exposed that formatted explain DOES print the
    # InMemoryRelation's child scan, contrary to the old comment.)
    assert len(scan_node_ids(plan)) == 1, plan[:2000]
    # the frame itself is correct-shaped: top-3 per doc + 15 contrast
    rows = df.collect()
    parts = {r.part for r in rows}
    assert parts == {"tfidf", "contrast"}
    n_contrast = sum(1 for r in rows if r.part == "contrast")
    assert n_contrast == 15
    tfidf = [r for r in rows if r.part == "tfidf"]
    assert all(1 <= r.rnk <= 3 and r.doc_id is not None for r in tfidf)
    assert all(r.doc_id is None for r in rows if r.part == "contrast")
    shared_cache.release()


def test_ann_recall_tuning_knob_ordering(spark, qs):
    """The tuning ladder's VALUES carry the claims (the oracle pins the
    exact doubles; this pins the ordering the docstring states): more
    probes help on the same codebook, and the refined codebook's recall
    is monotone in training fraction."""
    rows = {
        r.method: r
        for r in qs["sim_ann_recall_tuning"](spark, SF_DIR).collect()
    }
    assert set(rows) == {
        "ivf_base_p1",
        "ivf_base_p2",
        "ivf_kmed2_p2",
        "ivf_kmed2full_p2",
    }
    assert rows["ivf_base_p1"].delta_vs_p1 == 0.0
    # probe knob: nprobe=2 never loses to nprobe=1 (same codebook)
    assert rows["ivf_base_p2"].recall_at_10 >= rows["ivf_base_p1"].recall_at_10
    # training-size knob: full-corpus refinement beats the mod-4 sample
    assert (
        rows["ivf_kmed2full_p2"].recall_at_10
        > rows["ivf_kmed2_p2"].recall_at_10
    )
    for r in rows.values():
        assert r.n_truth == 50 and 0.0 <= r.recall_at_10 <= 1.0


def test_fuzzy_names_served_from_managed_scope(spark, qs):
    shared_cache.release("fuzzy_names")
    df = qs["dedup_fuzzy_name_pairs"](spark, SF_DIR)
    plan = formatted_plan(df)
    # three consumers (two join sides + within-name totals) all read
    # the persisted distinct-names table; no customer parquet scan in
    # the consumer plan (the one scan is the cached relation's build)
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    # exactly ONE distinct parquet scan node: the single customer scan
    # inside the cached relation's build, shared by every consumer
    # (node-id idiom, not the vacuous line filter; r11 VERDICT item 6)
    assert len(scan_node_ids(plan)) == 1, plan[:2000]
    row = df.collect()[0]
    assert row.n_names > 0
    assert row.n_dup_pairs <= row.n_candidate_pairs
    shared_cache.release()


def test_families_coexist_no_cross_family_eviction(spark):
    """r10 VERDICT item 6: memo_persist's evict-on-key-miss is scoped
    PER FAMILY — a representative headline sequence that builds the tf
    table, the shingle relation, and the MinHash signatures must leave
    all three persisted side by side (no family evicts another's only
    slot), while a key change WITHIN a family (the deliberately
    colliding build) evicts exactly that family's old entry and
    nothing else."""
    from retail_sales_analysis_etl_bi_project_spark.plans.dedup_queries import (
        _shared_shingles,
        shared_minhash_signatures,
    )

    shared_cache.release()
    tf = _shared_tf(spark, SF_DIR)
    sh = _shared_shingles(spark, SF_DIR)
    sig = shared_minhash_signatures(spark, SF_DIR)
    # the sequence leaves every family's entry persisted — building a
    # later family must not have evicted an earlier one
    assert tf.storageLevel.useMemory
    assert sh.storageLevel.useMemory
    assert sig.storageLevel.useMemory
    assert {"term_tf", "shingles", "minhash_sigs"} <= set(
        shared_cache._CACHES
    )
    assert all(
        len(shared_cache._CACHES[f]) == 1
        for f in ("term_tf", "shingles", "minhash_sigs")
    )
    # serving again is a key hit on every family (no rebuild)
    assert _shared_tf(spark, SF_DIR) is tf
    assert _shared_shingles(spark, SF_DIR) is sh
    assert shared_minhash_signatures(spark, SF_DIR) is sig
    # deliberate key collision WITHIN one family: evicts that family's
    # old entry, leaves the other families' persists untouched
    sh2 = _shared_shingles(spark, "/root/testdata/sf0.01")
    assert sh2 is not sh
    assert not sh.storageLevel.useMemory  # old shingles unpersisted
    assert tf.storageLevel.useMemory  # other families survive
    assert sig.storageLevel.useMemory
    shared_cache.release()


def test_tfidf_and_contrast_serve_tf_from_shared_persist(spark):
    """r10 VERDICT item 1 pin: text_tfidf_topterms and
    text_corpus_contrast each tokenize the corpus ONCE — both tf
    consumers (the tf branch and the df/totals re-aggregation) read
    the managed term_tf persist, so the only documents parquet scan in
    tfidf's plan is the single-row corpus count (and contrast's plan
    has none)."""
    from retail_sales_analysis_etl_bi_project_spark.plans.analysis_queries import (
        text_corpus_contrast,
        text_tfidf_topterms,
    )

    shared_cache.release("term_tf")
    plan = formatted_plan(text_tfidf_topterms(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    # exactly two scan nodes: the ONE tokenize scan inside the cached
    # relation's build (shared by the tf and df consumers) + the
    # single-row n_docs count (pre-r11: three — tf build, df rebuild,
    # count)
    assert len(scan_node_ids(plan)) == 2, plan[:2000]
    plan = formatted_plan(text_corpus_contrast(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    # contrast never touches the corpus outside the cached build
    assert len(scan_node_ids(plan)) == 1, plan[:2000]
    shared_cache.release()


def test_release_unpersists_dedup_pairs_and_clusters(spark, qs):
    """The dedup verified-pairs and connected-components persists are
    memo_persist families, so pipeline teardown (release()) unpersists
    them like every other shared intermediate instead of leaving them
    pinned in executor storage."""
    from pyspark import StorageLevel

    shared_cache.release()
    pairs = qs["dedup_minhash_lsh"](spark, SF_DIR)
    clusters = qs["dedup_cluster_components"](spark, SF_DIR)
    assert pairs.storageLevel != StorageLevel.NONE
    assert clusters.storageLevel != StorageLevel.NONE
    shared_cache.release()
    assert pairs.storageLevel == StorageLevel.NONE
    assert clusters.storageLevel == StorageLevel.NONE

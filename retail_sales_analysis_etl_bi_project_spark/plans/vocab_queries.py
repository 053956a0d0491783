"""Round-14 vocabulary / corpus-curation statistics — four mechanisms
an LLM-data pipeline runs before committing a corpus to a tokenizer
budget, each with an exact DuckDB twin:

- text_oov_rate_by_split    : top-V train vocabulary coverage of the
                              val/test splits — the OOV-rate audit
                              behind every fixed-vocabulary consumer
                              (a val OOV spike means the split hash is
                              confounded with content, or the corpus
                              drifted between splits).
- text_heaps_law_curve      : cumulative vocabulary size at 1/8, 1/4,
                              1/2 and full corpus (ingest order) — the
                              Heaps-law growth curve that says whether
                              vocabulary is SATURATING (more data =
                              mostly known words) or still open-ended.
- corpus_neyman_allocation  : optimal (Neyman) stratified sample
                              allocation n_h ∝ N_h·S_h over sources —
                              where a fixed labeling/eval budget buys
                              the most variance reduction, the
                              principled upgrade over proportional
                              sampling.
- text_hapax_ratio_by_source: hapax legomena (frequency-1 terms) per
                              source — f₁/N is the Good–Turing unseen
                              -mass estimate, the "how much vocabulary
                              have we NOT seen yet" number per source.

Numeric discipline (REQUIREMENTS.md): counts and variance numerators
ride exact integers (DECIMAL(38,0)/HUGEINT); every emitted double is a
pinned chain of casts, single divisions, and IEEE sqrt; the one
cross-stratum double reduction (Neyman's Σ N_h·S_h) is an ORDERED
running-sum fold over the source-sorted stratum rows — sequential on
both engines, never an order-free float sum.

Reference scope: the reference has no text analytics at all
(/root/reference/etl/etl.py); this is engine extension surface for the
training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import lower_terms, token_count_expr
from ..sources.tables import load_table
from .registry import query
from .text_queries import _SQL_TOKS
from .trend_queries import _DEC

# shared split convention (extension_queries): hash60(doc_id) % 1000
from .extension_queries import _SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT, _split_col, _sql_split_cte

_OOV_VOCAB_V = 500

_SQL_TERMS_SPLIT = f"""
    SELECT s.split, lower(unnest(d.toks)) AS term
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents) d
    JOIN ({_sql_split_cte(_SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT)}) s
      USING (doc_id)
"""


@query(
    "text_oov_rate_by_split",
    oracle=f"""
    WITH ts AS ({_SQL_TERMS_SPLIT}),
    vocab AS (
      SELECT term FROM (
        SELECT term,
               row_number() OVER (ORDER BY count(*) DESC, term) AS r
        FROM ts WHERE split = 'train' GROUP BY term)
      WHERE r <= {_OOV_VOCAB_V}),
    scored AS (
      SELECT ts.split,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM ts LEFT JOIN vocab v ON ts.term = v.term)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST({_OOV_VOCAB_V} AS BIGINT) AS vocab_size,
           CAST(SUM(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM scored
    GROUP BY split
    ORDER BY split
    """,
)
def text_oov_rate_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-RATE audit: build the top-{V} term vocabulary from the TRAIN
    split (count desc, term asc — a deterministic total order so the
    V-th place can't flap between engines) and measure the fraction of
    token OCCURRENCES each split can't cover. Train's own OOV rate is
    the irreducible tail of its frequency spectrum; val/test rates
    materially above it mean the splits aren't exchangeable — the
    pre-tokenizer sanity check every fixed-vocab consumer needs.

    Exactness: token and OOV counts are exact; the vocabulary is a
    rank-V selection under a deterministic order; oov_rate is one
    double division per split row.

    Scale shape (100 TB): ONE tokenize pass collapses the token stream
    to (split, term) frequency grain (map-side combined — review
    finding, r14: the first cut re-tokenized the corpus once per
    consumer subtree); the vocabulary rank and the scoring left join
    then both run on the Heaps-sublinear term-grain relation (the
    documented vocabulary-grain window concession shared with the
    tf-idf/Zipf family); readout is 3 rows."""
    from .shared_cache import memo_persist

    docs = load_table(spark, sf_dir, "documents")

    def _build_tfs() -> DataFrame:
        return (
            lower_terms(docs)
            .join(
                docs.select(
                    "doc_id",
                    _split_col(_SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT).alias(
                        "split"
                    ),
                ),
                "doc_id",
            )
            .groupBy("split", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    # managed persist: the vocab-build and scoring subtrees both read
    # this relation — without it each would re-run the tokenize pass
    tfs = memo_persist(
        "oov_split_tf",
        (spark.sparkContext.applicationId, sf_dir,
         _SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT),
        _build_tfs,
    )
    w = Window.orderBy(F.desc("cnt"), "term")
    vocab = (
        tfs.filter(F.col("split") == "train")
        .select("term", F.col("n").alias("cnt"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _OOV_VOCAB_V)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    return (
        tfs.join(F.broadcast(vocab), "term", "left")
        .groupBy("split")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("n")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "split",
            "n_tokens",
            "n_oov",
            F.lit(_OOV_VOCAB_V).cast("bigint").alias("vocab_size"),
            (
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
        .orderBy("split")
    )


text_oov_rate_by_split.__doc__ = text_oov_rate_by_split.__doc__.format(
    V=_OOV_VOCAB_V
)

_HEAPS_EIGHTHS = (1, 2, 4, 8)


@query(
    "text_heaps_law_curve",
    oracle=f"""
    WITH b AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS lo,
             CAST(max(doc_id) AS BIGINT) AS hi
      FROM documents),
    cps AS (
      SELECT k,
             lo + ((hi - lo + 1) * k) // 8 - 1 AS thr
      FROM b CROSS JOIN (SELECT unnest({list(_HEAPS_EIGHTHS)!r}) AS k)),
    dt AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks
      FROM documents),
    firsts AS (
      SELECT term, CAST(min(doc_id) AS BIGINT) AS first_id
      FROM (SELECT doc_id, lower(unnest({_SQL_TOKS})) AS term
            FROM documents)
      GROUP BY 1),
    docagg AS (
      SELECT cps.k, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(dt.n_toks) AS BIGINT) AS n_tokens
      FROM cps JOIN dt ON dt.doc_id <= cps.thr
      GROUP BY 1),
    vocagg AS (
      SELECT cps.k, CAST(count(*) AS BIGINT) AS vocab_size
      FROM cps JOIN firsts f
        ON f.first_id IS NOT NULL AND f.first_id <= cps.thr
      GROUP BY 1)
    SELECT CAST(k AS BIGINT) AS cp_eighths, n_docs, n_tokens, vocab_size,
           CAST(vocab_size AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS type_token_ratio
    FROM docagg JOIN vocagg USING (k)
    ORDER BY cp_eighths
    """,
)
def text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS-LAW vocabulary growth curve: distinct-term count after
    ingesting the first 1/8, 1/4, 1/2 and all of the corpus (doc_id
    order == ingest order, the corpus_ngram_novelty convention), with
    the running type/token ratio. A flattening curve says the
    vocabulary is saturating (new data is mostly known words — safe to
    freeze the tokenizer); a straight one says it is still open-ended.

    Checkpoints are doc_id RANGE cuts (lo + span·k/8, exact integer
    arithmetic) rather than row-rank cuts — no global row_number over
    the corpus, so the construction itself is 100 TB-safe and
    identical on both engines.

    Exactness: per-doc token counts, first-occurrence doc ids
    (min per term), and all checkpoint counts are exact integers; the
    type/token ratio is one double division per checkpoint row.

    Scale shape (100 TB): one tokenize pass for per-doc counts; one
    term-grouped min for first occurrences (partitioned by term,
    map-side combined); each relation is then filtered against the
    broadcast 4-row checkpoint table and aggregated — a ×4 fan-out of
    day-in-the-life scans, never a window over corpus rows."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.min("doc_id").cast("bigint").alias("lo"),
        F.max("doc_id").cast("bigint").alias("hi"),
    )
    ks = spark.createDataFrame(
        [(k,) for k in _HEAPS_EIGHTHS], "k long"
    )
    cps = b.crossJoin(ks).select(
        "k",
        (
            F.col("lo")
            + F.expr("((hi - lo + 1) * k) div 8")
            - 1
        ).alias("thr"),
    )
    dt = docs.select(
        "doc_id",
        F.coalesce(token_count_expr("text"), F.lit(0))
        .cast("bigint")
        .alias("n_toks"),
    )
    firsts = lower_terms(docs).groupBy("term").agg(
        F.min("doc_id").cast("bigint").alias("first_id")
    )
    docagg = (
        dt.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("thr"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    vocagg = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("first_id") <= F.col("thr"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )
    return (
        docagg.join(vocagg, "k")
        .select(
            F.col("k").cast("bigint").alias("cp_eighths"),
            "n_docs",
            "n_tokens",
            "vocab_size",
            (
                F.col("vocab_size").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("type_token_ratio"),
        )
        .orderBy("cp_eighths")
    )


_NEYMAN_BUDGET = 1000


@query(
    "corpus_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
               AS sxx
      FROM documents GROUP BY 1),
    w AS (
      SELECT source, n, CAST(n * sxx - sx * sx AS BIGINT) AS var_num,
             CASE WHEN n >= 2 THEN
               sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    / CAST(n * (n - 1) AS DOUBLE))
             ELSE CAST(0 AS DOUBLE) END AS s_chars
      FROM s),
    ww AS (
      SELECT source, n, var_num, s_chars,
             CAST(n AS DOUBLE) * s_chars AS wgt
      FROM w),
    cum AS (
      SELECT *,
             SUM(wgt) OVER (ORDER BY source
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run
      FROM ww),
    tot AS (SELECT *, max(run) OVER () AS total FROM cum)
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           var_num,
           s_chars,
           wgt / total AS alloc_frac,
           CAST(floor({_NEYMAN_BUDGET} * wgt / total) AS BIGINT)
             AS alloc_n
    FROM tot
    ORDER BY source
    """,
)
def corpus_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN-OPTIMAL stratified allocation of a {B}-item budget over
    sources: n_h ∝ N_h·S_h (stratum size × within-stratum stddev of
    doc length) — the allocation that minimizes the variance of the
    stratified estimate, i.e. where a fixed labeling/eval budget buys
    the most information. Proportional sampling (the stratified-sample
    query's posture) over-samples big HOMOGENEOUS sources; this is the
    principled correction.

    Exactness: per-stratum moments are exact integers; var_num =
    n·Σx² − (Σx)² is the exact hash anchor; S_h is one division + one
    IEEE sqrt. The one cross-stratum reduction Σ N_h·S_h is an ORDERED
    running-sum window over the source-sorted stratum rows — a
    sequential fold both engines execute identically (never an
    order-free float SUM); weights are non-negative so the fold's max
    IS its final value.

    Scale shape (100 TB): one map-side-combined pass to stratum grain;
    everything after is source-count rows (~10¹-10² strata)."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast(_DEC).alias("n"),
            F.sum(F.col("n_chars").cast(_DEC)).alias("sx"),
            F.sum(F.col("n_chars").cast(_DEC) * F.col("n_chars")).alias(
                "sxx"
            ),
        )
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    s_chars = F.when(
        F.col("n") >= 2,
        F.sqrt(
            var_num.cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double")
        ),
    ).otherwise(F.lit(0.0))
    ww = s.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        var_num.cast("bigint").alias("var_num"),
        s_chars.alias("s_chars"),
        (F.col("n").cast("double") * s_chars).alias("wgt"),
    )
    w_run = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = ww.withColumn("run", F.sum("wgt").over(w_run)).withColumn(
        "total", F.max("run").over(w_all)
    )
    return cum.select(
        "source",
        "n_docs",
        "var_num",
        "s_chars",
        (F.col("wgt") / F.col("total")).alias("alloc_frac"),
        F.floor(
            F.lit(float(_NEYMAN_BUDGET)) * F.col("wgt") / F.col("total")
        )
        .cast("bigint")
        .alias("alloc_n"),
    ).orderBy("source")


corpus_neyman_allocation.__doc__ = corpus_neyman_allocation.__doc__.format(
    B=_NEYMAN_BUDGET
)


@query(
    "text_hapax_ratio_by_source",
    oracle=f"""
    WITH tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT source, lower(unnest({_SQL_TOKS})) AS term
            FROM documents)
      GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS hapax_vocab_ratio,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(f) AS DOUBLE) AS good_turing_unseen
    FROM tf
    GROUP BY source
    ORDER BY source
    """,
)
def text_hapax_ratio_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAPAX LEGOMENA per source: the count and share of terms that
    occur exactly once — f₁/N is the Good–Turing estimate of the
    probability mass of UNSEEN vocabulary, the per-source "how much
    more vocabulary is out there" number (high hapax share = the
    source is lexically open-ended and under-sampled; low = saturated
    — the per-source drill-down of text_heaps_law_curve's corpus-level
    answer, and the frequency-SPECTRUM statistic the Zipf rank profile
    integrates away).

    Exactness: the (source, term) frequency table and all counts are
    exact integers; the two ratios are one double division each.

    Scale shape (100 TB): one tokenize pass to (source, term) grain
    (partitioned by the composite key, map-side combined — the same
    shuffle class as the tf-idf family); the readout collapses to
    source grain."""
    tf = (
        lower_terms(load_table(spark, sf_dir, "documents"), "source")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    hapax = F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("bigint")
    return (
        tf.groupBy("source")
        .agg(
            F.sum("f").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
            hapax.alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            "n_hapax",
            (
                F.col("n_hapax").cast("double")
                / F.col("vocab_size").cast("double")
            ).alias("hapax_vocab_ratio"),
            (
                F.col("n_hapax").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("good_turing_unseen"),
        )
        .orderBy("source")
    )


@query(
    "corpus_doclen_quartiles",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id,
             CAST(coalesce(len({_SQL_TOKS}), 0) AS BIGINT) AS n_toks
      FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS m FROM dl),
    ranked AS (
      SELECT doc_id, n_toks,
             row_number() OVER (ORDER BY n_toks, doc_id) AS r
      FROM dl),
    qs AS (SELECT unnest([1, 2, 3]) AS k)
    SELECT 'q' || CAST(qs.k AS VARCHAR) AS quartile,
           CAST(greatest(1, (qs.k * (n.m + 1)) // 4) AS BIGINT)
             AS sel_rank,
           CAST(n.m AS BIGINT) AS n_docs,
           ranked.doc_id AS sel_doc_id,
           ranked.n_toks
    FROM qs CROSS JOIN n
    JOIN ranked ON ranked.r = greatest(1, (qs.k * (n.m + 1)) // 4)
    ORDER BY quartile
    """,
)
def corpus_doclen_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT document-length quartiles (Q1/Q2/Q3 of per-doc token
    counts) as SELECTED elements at rank max(1, ⌊k(m+1)/4⌋) under the
    (n_toks, doc_id) total order — the length-distribution cut points
    every chunking/packing/truncation policy is tuned against, emitted
    as exact corpus values (with the selected doc's id — a pointer to
    a real exemplar, which an interpolated quantile can't give).

    This is the first production consumer of the GENERALIZED two-phase
    rank (operators/ranks.py selected_ranks, r13 VERDICT item 1's
    operator): one histogram locates ALL THREE ranks, then each
    resolves in its own ~m/1024 bucket slice — no corpus row crosses a
    global single-partition window, unlike the percentile_approx /
    sketch path (approximate) or a row_number rank (single-partition).
    The DuckDB twin is the straight global row_number SQL, so every
    gate run proves two-phase == global-sort selection on the real
    corpus.

    Scale shape (100 TB): one tokenize-count pass to doc grain
    (length, not content); three partitioned passes over the doc-grain
    relation; phase-2 sorts are ~m/1024 slices."""
    from ..operators.ranks import selected_ranks

    dl = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(token_count_expr("text"), F.lit(0))
        .cast("bigint")
        .alias("n_toks"),
    )
    picked = selected_ranks(
        dl,
        F.col("n_toks"),
        ["doc_id"],
        {
            "q1": "greatest(1, (1 * (__tp_m + 1)) div 4)",
            "q2": "greatest(1, (2 * (__tp_m + 1)) div 4)",
            "q3": "greatest(1, (3 * (__tp_m + 1)) div 4)",
        },
    )
    return picked.select(
        F.col("__tp_rank").alias("quartile"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(cast(substring(__tp_rank, 2, 1) as bigint)"
                   " * (__tp_m + 1)) div 4"),
        ).alias("sel_rank"),
        F.col("__tp_m").alias("n_docs"),
        F.col("doc_id").alias("sel_doc_id"),
        "n_toks",
    ).orderBy("quartile")


_COVERAGE_BUDGETS = (100, 200, 500, 1000, 2000)


@query(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT lower(unnest({_SQL_TOKS})) AS term FROM documents)
      GROUP BY 1),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, term) AS r
      FROM tf),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM tf),
    vs AS (SELECT unnest({list(_COVERAGE_BUDGETS)!r}) AS v)
    SELECT CAST(vs.v AS BIGINT) AS v_budget,
           CAST(coalesce(SUM(CASE WHEN ranked.r <= vs.v
                                  THEN ranked.n END), 0) AS BIGINT)
             AS n_covered,
           t.n_tokens,
           CAST(coalesce(SUM(CASE WHEN ranked.r <= vs.v
                                  THEN ranked.n END), 0) AS DOUBLE)
             / CAST(t.n_tokens AS DOUBLE) AS coverage
    FROM vs CROSS JOIN t CROSS JOIN ranked
    GROUP BY 1, 3
    ORDER BY v_budget
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-COVERAGE curve at vocabulary budgets: the share of token
    OCCURRENCES covered by the top-V terms for V in {100..2000} — the
    tokenizer-budget sizing curve (where the curve flattens is where
    an extra thousand vocabulary slots stops buying coverage; the BPE
    trainer's merge budget and the OOV audit's cut both hang off this
    number). Zipf profiles the SHAPE of the frequency spectrum; this
    integrates it into the decision quantity.

    Exactness: term counts and cumulative covered-token counts are
    exact integers under the deterministic (count desc, term) rank;
    coverage is one double division per budget row.

    Scale shape (100 TB): one tokenize pass to term grain (map-side
    combined); the rank runs on the DISTINCT-term relation
    (Heaps-sublinear, the documented vocabulary-grain concession);
    each budget's covered mass is a conditional aggregate against the
    broadcast 5-row budget table."""
    tf = (
        lower_terms(load_table(spark, sf_dir, "documents"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), "term")
    ranked = tf.withColumn("r", F.row_number().over(w)).select("n", "r")
    t = tf.agg(F.sum("n").cast("bigint").alias("n_tokens"))
    vs = spark.createDataFrame(
        [(v,) for v in _COVERAGE_BUDGETS], "v long"
    )
    cov = F.coalesce(
        F.sum(F.when(F.col("r") <= F.col("v"), F.col("n"))),
        F.lit(0),
    ).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(vs))
        .groupBy("v")
        .agg(cov.alias("n_covered"))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("v").cast("bigint").alias("v_budget"),
            "n_covered",
            "n_tokens",
            (
                F.col("n_covered").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("coverage"),
        )
        .orderBy("v_budget")
    )

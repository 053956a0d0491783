"""Round-6f corpus-analysis queries (registered after lifecycle_queries).

The text family (operators/text.py) covers per-document signals —
token counts, quality, language ID, repetition, PII — and
extension_queries covers corpus heavy-hitters. This module adds the
three corpus-level *term statistics* stages an LLM-data pipeline runs
between cleaning and training:

- text_tfidf_topterms  : per-document top-3 distinctive terms by
                         TF-IDF (rational smoothed IDF — log-free so
                         the score is bit-identical across engines)
- text_bpe_pair_merge  : the first byte-pair-encoding merge round —
                         corpus-weighted adjacent character-pair
                         frequencies over the word-frequency table
- text_corpus_contrast : smoothed relative-frequency ratio of terms in
                         the English slice vs the rest (the keyword /
                         domain-drift contrast every corpus mix audit
                         needs)

plus the BI reshape pair (bi_revenue_pivot_priority_year — explicit-
values pivot cross-tab; bi_revenue_cube_status_year — CUBE with
grouping_id over a pre-collapsed aggregate) and the string-edit-
distance dedup member (dedup_fuzzy_name_pairs — SymSpell deletion-
neighborhood blocking + levenshtein verify).

Round 7 additions: pipeline_term_stats_shared (the composed
tokenize->tf->{tfidf, contrast} pipeline over ONE managed-persist tf
table — plans/shared_cache.py) and sim_ann_recall_tuning (the IVF
recall-knob ladder: probe count x refinement x training fraction,
hash-pinned with deltas).

Numeric discipline (see REQUIREMENTS.md): scores use only +,*,/ over
doubles — IEEE-correctly-rounded and therefore bit-identical in Spark
and DuckDB when written in the same association order; no ln/exp libm
calls whose last ulp differs between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import revenue_expr, sum_money
from ..operators.text import lower_terms
from ..sources.tables import load_table
from .registry import query
from .shared_cache import memo_artifact, memo_persist
from .text_queries import _SQL_TOKS

_TFIDF_TOP = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             (CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE))
               / CAST(df.df + 1 AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, tfidf
    FROM ranked WHERE rnk <= {_TFIDF_TOP}
    ORDER BY doc_id, rnk
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by TF-IDF — the classic
    keyword-extraction / relevance-weighting stage (reference scope:
    document fingerprinting + quality scoring family).

    IDF is the smoothed RATIONAL form (N+1)/(df+1) rather than
    ln((N+1)/(df+1))+1: monotone-identical ranking, but the score stays
    inside IEEE +,*,/ so the hash-compared doubles are bit-identical in
    Spark and DuckDB (ln's last ulp is libm-dependent — the same reason
    the quality classifier uses an algebraic sigmoid).

    Scale shape (the standard distributed TF-IDF plan):
    - explode -> groupBy(doc_id, term): map-side partial aggregation,
      shuffle carries one row per distinct (doc, term);
    - df derives from the tf TABLE (groupBy term — vocabulary-sized,
      never re-reads the corpus);
    - tf⋈df is a shuffle equi-join on term (vocabulary can be billions
      of rows at web scale — NOT broadcast; AQE is free to downgrade);
    - the single-row corpus count IS broadcast;
    - per-doc top-3 is row_number over a doc_id-partitioned window —
      co-partitioned with tf's grouping key, so the plan reuses the
      existing hash partitioning (plan shows WindowGroupLimit + Sort
      with NO exchange between the join and the window).
    Ties break on term text so the cut is deterministic.

    Since r11 the tf table comes from the MANAGED persist scope
    (_shared_tf, plans/shared_cache.py) instead of a lazy inline
    build: the df branch previously re-derived tf from its own corpus
    scan (Spark re-executes an unpersisted subtree per consumer), so
    the corpus was tokenized twice per run; serving both branches from
    the persisted (doc, term, tf) relation makes it ONE tokenize pass
    per (application, corpus) shared with pipeline_term_stats_shared —
    pinned by tests/test_pipeline_shared.py
    test_tfidf_and_contrast_serve_tf_from_shared_persist. lang rides along in the
    persisted relation (constant per doc, so the (doc_id, term) grain
    and every count below are unchanged) and is simply not selected."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _shared_tf(spark, sf_dir).select("doc_id", "term", "tf")
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf").cast("double") * (F.col("n_docs") + F.lit(1)).cast("double"))
            / (F.col("df") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select("doc_id", "rnk", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rnk")
    )


@query(
    "text_bpe_pair_merge",
    oracle=f"""
    WITH toks AS (
      SELECT lower(unnest({_SQL_TOKS})) AS word FROM documents
    ),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS word_freq
           FROM toks GROUP BY 1),
    pairs AS (
      SELECT word, word_freq,
             unnest(list_transform(
               generate_series(1, CAST(length(word) AS INTEGER) - 1),
               i -> substr(word, i, 2))) AS pair
      FROM wf
    )
    SELECT pair,
           CAST(SUM(word_freq) AS BIGINT) AS pair_count,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
    FROM pairs GROUP BY 1
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
)
def text_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First byte-pair-encoding merge round: the 20 most frequent
    adjacent character pairs across the corpus, weighted by word
    frequency — exactly the statistic a BPE tokenizer trainer computes
    to pick its next merge (Sennrich et al. 2016, public algorithm).

    Scale shape — the classic BPE trainer trick, distributed: pair
    expansion runs over the WORD-FREQUENCY table, not the corpus. The
    explode->groupBy(word) first stage collapses the corpus to its
    vocabulary with map-side combine (the same heavy-hitter shuffle
    shape as text_top_tokens), then per distinct word a
    transform(sequence) expression emits its length-1 adjacent pairs —
    all JVM-side codegen, zero Python. The final groupBy(pair) shuffle
    is bounded by |vocab| * avg_word_len, independent of corpus row
    count; the top-20 plans as TakeOrderedAndProject. Integer counts
    only — nothing float-hash-fragile.

    Words shorter than 2 chars emit no pairs: the Spark guard is
    explicit (when length>=2) because sequence(1, 0) would yield a
    DESCENDING [1,0] in Spark while generate_series(1, 0) is empty in
    DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        lower_terms(docs)
        .groupBy(F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).alias("word_freq"))
    )
    pair_arr = F.when(
        F.length("word") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select("word", "word_freq", F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(
            F.sum("word_freq").alias("pair_count"),
            F.count_distinct("word").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


@query(
    "text_corpus_contrast",
    oracle=f"""
    WITH toks AS (
      SELECT lang, lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    counts AS (
      SELECT term,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_rest
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_en) AS BIGINT) AS tot_en,
             CAST(SUM(n_rest) AS BIGINT) AS tot_rest
      FROM counts
    )
    SELECT term, n_en, n_rest,
           ((CAST(n_en AS DOUBLE) + 0.5) * (CAST(tot_rest AS DOUBLE) + 0.5))
             / ((CAST(n_rest AS DOUBLE) + 0.5) * (CAST(tot_en AS DOUBLE) + 0.5))
             AS en_ratio
    FROM counts CROSS JOIN tot
    WHERE n_en + n_rest >= 10
    ORDER BY en_ratio DESC, term
    LIMIT 15
    """,
)
def text_corpus_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice contrast: the 15 terms most distinctive of the
    English slice vs the rest of the corpus, by add-half smoothed
    relative-frequency ratio — the keyword-contrast / domain-drift
    audit run when deciding a corpus mix (which terms does slice A
    over-represent?).

    The statistic is the smoothed rate ratio
    ((a+.5)/(A+.5)) / ((b+.5)/(B+.5)), algebraically rearranged to
    ((a+.5)*(B+.5)) / ((b+.5)*(A+.5)) so both engines evaluate the
    identical +,*,/ sequence (bit-identical doubles; a log-likelihood
    form would rank similarly but pull in libm ln). Min-support
    n_en+n_rest >= 10 keeps one-off typos out of the ratio tail.

    Scale shape: since r11 the (doc, lang, term, tf) table comes from
    the managed persist (_shared_tf — one tokenize pass per
    application/corpus shared with text_tfidf_topterms and
    pipeline_term_stats_shared); the per-term conditional sums
    aggregate that relation (vocabulary-sized output), the slice
    totals re-aggregate the counts subtree from the PERSISTED relation
    rather than a second corpus scan, and they broadcast as one row;
    top-15 is TakeOrderedAndProject. Summing tf over (doc, lang, term)
    rows is arithmetic-identical to counting the exploded tokens
    directly, so the oracle is unchanged."""
    tf = _shared_tf(spark, sf_dir)
    counts = tf.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("tf")).otherwise(0))
        .cast("bigint")
        .alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(F.col("tf")))
        .cast("bigint")
        .alias("n_rest"),
    )
    tot = counts.agg(
        F.sum("n_en").cast("bigint").alias("tot_en"),
        F.sum("n_rest").cast("bigint").alias("tot_rest"),
    )
    ratio = (
        (F.col("n_en").cast("double") + F.lit(0.5))
        * (F.col("tot_rest").cast("double") + F.lit(0.5))
    ) / (
        (F.col("n_rest").cast("double") + F.lit(0.5))
        * (F.col("tot_en").cast("double") + F.lit(0.5))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter((F.col("n_en") + F.col("n_rest")) >= 10)
        .select("term", "n_en", "n_rest", ratio.alias("en_ratio"))
        .orderBy(F.desc("en_ratio"), F.asc("term"))
        .limit(15)
    )


_PIVOT_YEARS = list(range(1995, 2002))  # testdata o_orderdate span


@query(
    "bi_revenue_pivot_priority_year",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           {cols}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """.format(
        cols=",\n           ".join(
            "CAST(SUM(CASE WHEN year(o.o_orderdate) = {y} THEN "
            "CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) "
            "END) AS DOUBLE) AS y{y}".format(y=y)
            for y in _PIVOT_YEARS
        )
    ),
)
def bi_revenue_pivot_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI cross-tab: revenue by order priority (rows) x order year
    (columns) via DataFrame ``pivot`` — the report-matrix operator every
    BI surface ships (the reference's dashboard visuals are pivots of
    the gold fact by date/product axes).

    The pivot VALUES are declared explicitly (1995-2001, the testdata
    date span): with an explicit list Spark plans a single-pass
    conditional aggregation (PivotFirst / one HashAggregate over
    fact rows — exactly the CASE-WHEN matrix the oracle spells out)
    and the output schema is static; omitting the list would add an
    eager distinct-scan job to discover values, an anti-pattern at
    100 TB. Revenue stays exact-decimal until the final double cast
    (functions/money.py discipline); year-x-priority cells absent from
    the data yield NULL in both engines.

    The inverse reshape (unpivot/melt back to long form) is pinned
    lossless in tests/test_analysis_queries.py — Spark's unpivot
    compiles to an Expand, no shuffle."""
    # fact at cluster width before the join+decimal pass (r16, guide
    # §2.2/§2.5 — see plans/bi.py q02; decimal sums associative)
    from ..sources.tables import load_fact_wide

    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("o_year"),
        revenue_expr().alias("rev"),
    )
    pivoted = (
        joined.groupBy("priority")
        .pivot("o_year", _PIVOT_YEARS)
        .agg(F.sum("rev"))
    )
    return pivoted.select(
        "priority",
        *[F.col(str(y)).cast("double").alias(f"y{y}") for y in _PIVOT_YEARS],
    ).orderBy("priority")


@query(
    "dedup_fuzzy_name_pairs",
    oracle="""
    WITH names AS (
      SELECT lower(trim(c_name)) AS name,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer WHERE c_name IS NOT NULL GROUP BY 1
    ),
    keys AS (
      SELECT name, cnt,
             unnest(list_transform(
               generate_series(0, CAST(length(name) AS INTEGER)),
               i -> CASE WHEN i = 0 THEN name
                    ELSE substr(name, 1, i - 1)
                         || substr(name, i + 1, length(name) - i) END
             )) AS delkey
      FROM names
    ),
    cand AS (
      SELECT DISTINCT a.name AS na, a.cnt AS ca, b.name AS nb, b.cnt AS cb
      FROM keys a JOIN keys b ON a.delkey = b.delkey AND a.name < b.name
    ),
    cross_name AS (
      SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS cand_pairs,
             CAST(COALESCE(SUM(CASE WHEN levenshtein(na, nb) <= 1
                                THEN ca * cb ELSE 0 END), 0)
                  AS BIGINT) AS dup_pairs
      FROM cand
    ),
    within_name AS (
      SELECT CAST(COALESCE(SUM(cnt * (cnt - 1) // 2), 0) AS BIGINT) AS pairs,
             CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows
      FROM names
    )
    SELECT w.n_rows AS n_names,
           c.cand_pairs + w.pairs AS n_candidate_pairs,
           c.dup_pairs + w.pairs AS n_dup_pairs
    FROM cross_name c CROSS JOIN within_name w
    """,
)
def dedup_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-duplicate audit: customer PAIRS whose names are
    within edit distance 1, found WITHOUT any all-pairs comparison —
    SymSpell-style deletion-neighborhood blocking (Garbe's public
    algorithm): every name emits itself plus its length-L
    one-char-deletion variants (L+1 keys); two names within Levenshtein
    distance 1 necessarily share at least one key, so candidates come
    from a plain equi-join on the deletion key and only candidates pay
    the exact levenshtein() verify. The string-edit-distance member of
    the dedup family (token n-grams, MinHash, SimHash, embeddings
    cover the other similarity axes).

    Scale shape — the standard SymSpell-at-scale form: the corpus
    FIRST collapses to DISTINCT names with multiplicities (one
    map-side-combined groupBy), the deletion-key self-join runs over
    distinct names only, and row-level pair counts are recovered
    arithmetically (ca*cb across a cross-name candidate, C(c,2) within
    an exact-duplicate name). Exact duplicates — the norm in real
    entity data — therefore NEVER enter the join: a name shared by D
    customers costs one row, not Theta(D^2) join output. Key buckets
    are bounded by the distinct-name neighborhood density, and the
    DISTINCT collapses multi-key candidate duplicates before the
    verify. Output is a single audit row over customer pairs (counts
    include same-name pairs, lev=0), so the hash check pins blocking
    recall, candidate dedup, multiplicity algebra, and the verify
    threshold. Spark and DuckDB both implement classic Levenshtein.

    The distinct-name aggregate has three consumers (both join sides
    and the within-name totals), so it lives in the managed persist
    scope (plans/shared_cache.py, family "fuzzy_names"):
    computed once per (app, sf_dir), explicit unpersist on key change
    or release(). Without the cache the re-derivation cost ~2x the old
    row-level plan's wall time — the price of removing the Theta(D^2)
    duplicate-name blowup, now reclaimed."""

    def build_names() -> DataFrame:
        customer = load_table(spark, sf_dir, "customer")
        return (
            customer.filter(F.col("c_name").isNotNull())
            .select(F.lower(F.trim("c_name")).alias("name"))
            .groupBy("name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    names = memo_persist("fuzzy_names", spark, sf_dir, build_names)
    delkeys = F.transform(
        F.sequence(F.lit(0), F.length("name")),
        lambda i: F.when(i == 0, F.col("name")).otherwise(
            F.concat(
                F.col("name").substr(F.lit(1), i - 1),
                F.col("name").substr(i + 1, F.length("name") - i),
            )
        ),
    )
    keys = names.select("name", "cnt", F.explode(delkeys).alias("delkey"))
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.delkey") == F.col("b.delkey"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("na"),
            F.col("a.cnt").alias("ca"),
            F.col("b.name").alias("nb"),
            F.col("b.cnt").alias("cb"),
        )
        .distinct()
    )
    # coalesce: SUM over ZERO rows is NULL in both engines, but "no
    # candidates" means 0 pairs (caught by the hypothesis
    # blocking-completeness property)
    cross_name = cand.agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("bigint")
        .alias("cand_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.levenshtein("na", "nb") <= 1, F.col("ca") * F.col("cb")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dup_pairs"),
    )
    # integer DIV keeps the pair count exact BIGINT end-to-end (a double
    # /2 would break sum exactness past 2^53 pairs — money.py discipline)
    within_name = names.agg(
        F.coalesce(
            F.sum(F.expr("(cnt * (cnt - 1)) div 2")).cast("bigint"),
            F.lit(0),
        ).alias("pairs"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_rows"),
    )
    return cross_name.crossJoin(F.broadcast(within_name)).select(
        F.col("n_rows").alias("n_names"),
        (F.col("cand_pairs") + F.col("pairs")).alias("n_candidate_pairs"),
        (F.col("dup_pairs") + F.col("pairs")).alias("n_dup_pairs"),
    )


@query(
    "bi_revenue_cube_status_year",
    oracle="""
    WITH yearly AS (
      SELECT o.o_orderstatus AS status,
             CAST(year(o.o_orderdate) AS INTEGER) AS year,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
               AS _rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )
    SELECT status, year,
           CAST(GROUPING(status) * 2 + GROUPING(year) AS BIGINT) AS gid,
           CAST(SUM(_rev) AS DOUBLE) AS revenue
    FROM yearly
    GROUP BY CUBE(status, year)
    ORDER BY gid, status, year
    """,
)
def bi_revenue_cube_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, year) with grouping_id: every subtotal plane of the
    status x year matrix in one pass — detail cells, per-status and
    per-year margins, grand total — the dashboard subtotal companion of
    agg_rollup_year_month (gid disambiguates a NULL group key from a
    subtotal row, the standard CUBE-consumer discipline).

    Same two-phase shape as the rollup: a plain groupBy collapses the
    fact join to the ~|status|x|years| aggregate FIRST, so the CUBE's
    Expand (4 copies per input row — 2^k for k cube columns) runs over
    dozens of rows, not the 100 TB fact. Decimal sums are associative,
    so the sum-of-partials is exactly the one-pass value. Spark and
    DuckDB agree on grouping(): 1 when the column is aggregated away,
    0 when grouped."""
    # fact at cluster width before the join+decimal pass (r16, guide
    # §2.2/§2.5 — see plans/bi.py q02; decimal sums associative)
    from ..sources.tables import load_fact_wide

    lineitem = load_fact_wide(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    yearly = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("int").alias("year"),
        )
        .agg(F.sum(revenue_expr()).alias("_rev"))
    )
    return (
        yearly.cube("status", "year")
        .agg(
            (F.grouping("status") * 2 + F.grouping("year"))
            .cast("bigint")
            .alias("gid"),
            sum_money(F.col("_rev"), "revenue"),
        )
        .select("status", "year", "gid", "revenue")
        .orderBy("gid", "status", "year")
    )


def _shared_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(doc, term) frequency table — tokenize once, persist in
    the managed scope (plans/shared_cache.py), serve every term-stats
    consumer from the cached copy. lang rides along (constant per doc,
    so the grouping cardinality is unchanged) because the contrast
    branch slices on it."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            lower_terms(docs, "lang")
            .groupBy("doc_id", "lang", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    return memo_persist("term_tf", spark, sf_dir, build)


@query(
    "pipeline_term_stats_shared",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, lang, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2, 3
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             (CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE))
               / CAST(df.df + 1 AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ),
    counts AS (
      SELECT term,
             CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT)
               AS n_en,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE tf END) AS BIGINT)
               AS n_rest
      FROM tf GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_en) AS BIGINT) AS tot_en,
             CAST(SUM(n_rest) AS BIGINT) AS tot_rest
      FROM counts
    ),
    contrast AS (
      SELECT term, n_en, n_rest,
             ((CAST(n_en AS DOUBLE) + 0.5) * (CAST(tot_rest AS DOUBLE) + 0.5))
               / ((CAST(n_rest AS DOUBLE) + 0.5)
                  * (CAST(tot_en AS DOUBLE) + 0.5)) AS en_ratio
      FROM counts CROSS JOIN tot
      WHERE n_en + n_rest >= 10
      ORDER BY en_ratio DESC, term
      LIMIT 15
    ),
    contrast_ranked AS (
      SELECT row_number() OVER (ORDER BY en_ratio DESC, term) AS rnk, *
      FROM contrast
    )
    SELECT 'tfidf' AS part, doc_id, CAST(rnk AS BIGINT) AS rnk, term,
           tf AS n_a, df AS n_b, tfidf AS score
    FROM ranked WHERE rnk <= {_TFIDF_TOP}
    UNION ALL
    SELECT 'contrast' AS part, CAST(NULL AS BIGINT) AS doc_id,
           CAST(rnk AS BIGINT) AS rnk, term,
           n_en AS n_a, n_rest AS n_b, en_ratio AS score
    FROM contrast_ranked
    ORDER BY part, doc_id, rnk
    """,
)
def pipeline_term_stats_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORCHESTRATED form of the term-statistics family: tokenize ->
    tf ONCE (persisted via the managed scope the single-query
    docstrings promise — see text_tfidf_topterms / text_corpus_contrast
    "a pipeline embedding this persists tf in scope"), then both the
    per-doc TF-IDF top-3 and the en-vs-rest corpus contrast are served
    from that one cached table, unioned into a single audit frame.

    Proof obligations this query carries (r6 VERDICT item 5):
    - the physical plan shows InMemoryTableScan for every tf consumer
      (df derivation, tfidf join, contrast counts) and ONE scan of
      documents.parquet total (pinned in tests/test_pipeline_shared.py);
    - the oracle hash must equal the standalone queries' arithmetic —
      the tfidf/ratio expressions are copied in the same association
      order, so the doubles are bit-identical.

    Differences from the standalone pair, both deliberate:
    - n_docs here is COUNT(DISTINCT doc_id) over tf — derived from the
      shared table so the pipeline touches the corpus exactly once —
      rather than a second COUNT(*) scan of documents (identical at
      this SF: every generated doc tokenizes non-empty; a zero-token
      doc would drop out of BOTH the count and every tf row, which is
      the "documents that contribute tokens" denominator — a defensible
      IDF base, stated in the oracle twin);
    - contrast counts aggregate SUM(tf) instead of re-exploding tokens
      (same numbers, vocabulary-sized input instead of corpus-sized).

    Scale: the persisted tf is the (doc, term)-distinct table — the
    same size class every distributed TF-IDF materializes; at 100 TB
    the persist becomes a checkpoint/table write between pipeline
    stages, and the plan shape (shuffle on term for df-join, doc_id
    window reusing tf's partitioning, broadcast single-row totals) is
    unchanged."""
    tf = _shared_tf(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs") + F.lit(1)).cast("double")
            )
            / (F.col("df") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    tfidf_rows = (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _TFIDF_TOP)
        .select(
            F.lit("tfidf").alias("part"),
            "doc_id",
            "rnk",
            "term",
            F.col("tf").alias("n_a"),
            F.col("df").alias("n_b"),
            F.col("tfidf").alias("score"),
        )
    )
    counts = tf.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("tf")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", F.lit(0)).otherwise(F.col("tf")))
        .cast("bigint")
        .alias("n_rest"),
    )
    tot = counts.agg(
        F.sum("n_en").cast("bigint").alias("tot_en"),
        F.sum("n_rest").cast("bigint").alias("tot_rest"),
    )
    contrast = (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n_en") + F.col("n_rest") >= 10)
        .withColumn(
            "en_ratio",
            (
                (F.col("n_en").cast("double") + F.lit(0.5))
                * (F.col("tot_rest").cast("double") + F.lit(0.5))
            )
            / (
                (F.col("n_rest").cast("double") + F.lit(0.5))
                * (F.col("tot_en").cast("double") + F.lit(0.5))
            ),
        )
        .orderBy(F.desc("en_ratio"), F.asc("term"))
        .limit(15)
    )
    # rank over the 15 surviving rows only (single in-memory partition
    # post-limit; the global-window warning case never sees real data)
    wc = Window.orderBy(F.desc("en_ratio"), F.asc("term"))
    contrast_rows = contrast.withColumn(
        "rnk", F.row_number().over(wc).cast("bigint")
    ).select(
        F.lit("contrast").alias("part"),
        F.lit(None).cast("bigint").alias("doc_id"),
        "rnk",
        "term",
        F.col("n_en").alias("n_a"),
        F.col("n_rest").alias("n_b"),
        F.col("en_ratio").alias("score"),
    )
    return tfidf_rows.unionByName(contrast_rows).orderBy(
        "part", "doc_id", "rnk"
    )


def _ann_tuning_oracle() -> str:
    from .similarity_queries import _bruteforce_oracle, _ivf_oracle

    cfg_sql = []
    for label, iters, nprobe, train_mod in _ANN_TUNING_CONFIGS:
        cfg_sql.append(
            f"""SELECT '{label}' AS method,
                 CAST({iters} AS BIGINT) AS refine_iters,
                 CAST({nprobe} AS BIGINT) AS nprobe,
                 CAST({train_mod} AS BIGINT) AS train_mod,
                 query_id, neighbor_id
          FROM cfg_{label}"""
        )
    unioned = "\n      UNION ALL\n      ".join(cfg_sql)
    withs = ",\n    ".join(
        f"cfg_{label} AS "
        f"({_ivf_oracle(iters=iters, nprobe=nprobe, train_mod=train_mod)})"
        for label, iters, nprobe, train_mod in _ANN_TUNING_CONFIGS
    )
    return f"""
    WITH bf AS ({_bruteforce_oracle()}),
    {withs},
    ann AS (
      {unioned}
    ),
    truth AS (SELECT query_id, neighbor_id FROM bf),
    rec AS (
      SELECT a.method, a.refine_iters, a.nprobe, a.train_mod,
             CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM ann a LEFT JOIN truth t
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    scored AS (
      SELECT method, refine_iters, nprobe, train_mod, hits, n_truth,
             CAST(hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall_at_10
      FROM rec CROSS JOIN tot
    ),
    base AS (
      SELECT recall_at_10 AS base_recall FROM scored
      WHERE method = 'ivf_base_p1'
    )
    SELECT method, refine_iters, nprobe, train_mod, hits, n_truth,
           recall_at_10, recall_at_10 - base_recall AS delta_vs_p1
    FROM scored CROSS JOIN base
    ORDER BY method
    """


# (label, refine_iters, nprobe, train_mod) — the recall ladder. The
# kmed pair holds nprobe=2 fixed and varies the TRAINING FRACTION of
# the k-medians refinement (mod-4 sample vs full corpus).
_ANN_TUNING_CONFIGS = (
    ("ivf_base_p1", 0, 1, 4),
    ("ivf_base_p2", 0, 2, 4),
    ("ivf_kmed2_p2", 2, 2, 4),
    ("ivf_kmed2full_p2", 2, 2, 1),
)


@query("sim_ann_recall_tuning", oracle=_ann_tuning_oracle())
def sim_ann_recall_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning story as CHECKED numbers (r6 VERDICT item 6): the
    standard recall knobs — probe count, codebook refinement, and the
    refinement's training fraction — exercised as a ladder against the
    same brute-force truth set, with each config's recall@10 AND its
    delta vs the nprobe=1 baseline hash-pinned.

    What the pinned numbers SHOW at sf0.01 (verified, not assumed):
    - nprobe=2 improves recall over nprobe=1 on the same codebook
      (0.88 -> 0.90; delta_vs_p1 > 0) — the probe knob pays;
    - k-medians refinement HURTS on this corpus (0.90 -> 0.40 at
      nprobe=2): the embeddings are near-uniform unit directions (no
      label clustering — same-label and cross-label cosine both ~0.00),
      so data-point centroids are already as good as 16 cells get, and
      a per-dim median over the mod-4 training sample (~8 vectors per
      cell) is direction-noise that scatters true neighbors across
      lists;
    - quadrupling the training set (train_mod=1) recovers most of the
      loss (0.40 -> 0.74) — the refinement failure is a TRAINING-SIZE
      effect, monotone in sample fraction, not a broken Lloyd loop.
    The audit exists precisely to catch this: "refined is better" is a
    hypothesis, and on this geometry it is false — pinned as a negative
    delta rather than assumed. tests/test_pipeline_shared.py asserts
    the p2>p1 gain and the kmed2full>kmed2 training-size ordering.

    Everything reuses already-hash-verified machinery: ivf_topk runs
    per config (codebooks are memoized KB artifacts — the FAISS
    persist-the-index posture), the truth set is the managed ann_truth
    persist shared with sim_ann_recall, recall is one left-join +
    groupBy per the sim_ann_recall shape, and the delta is a global
    window over the 4-row ladder. The DuckDB
    twin replays every config end-to-end (sampling predicate, Lloyd
    rounds, probe ranking), so a codebook or probe regression moves a
    hash-checked double, not a prose claim."""
    from ..operators.similarity import ivf_topk
    from .similarity_queries import (
        _K,
        _N_CENTROIDS,
        _N_QUERIES,
        _corpus_ivf_lists,
        shared_ann_truth,
        topk_persisted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = None
    for label, iters, nprobe, train_mod in _ANN_TUNING_CONFIGS:
        # per-config managed persist, labeled by hyperparams so the
        # base config shares its evaluation with sim_ivf_ann_topk
        # (r14 VERDICT item 3 — same rows either way, so the oracle
        # replay is unaffected). r16: each config consumes the managed
        # inverted-lists persist for its codebook variant instead of
        # re-assigning the corpus per config — the base pair (p1, p2)
        # shares ONE lists build with sim_ivf_ann_topk/multiprobe, the
        # kmed pair shares with sim_ivf_kmedians_topk; rows are
        # identical by construction (ivf_topk with corpus_assigned is
        # the same per-row assignment expression).
        def build(iters=iters, nprobe=nprobe, train_mod=train_mod):
            lists, cb = _corpus_ivf_lists(
                spark, sf_dir, refine_iters=iters, train_mod=train_mod
            )
            return ivf_topk(
                emb,
                qvecs,
                k=_K,
                n_centroids=_N_CENTROIDS,
                nprobe=nprobe,
                codebook=cb,
                corpus_assigned=lists,
            )

        part = topk_persisted(
            spark, sf_dir, f"ivf_i{iters}_p{nprobe}_m{train_mod}", build
        ).select(
            F.lit(label).alias("method"),
            F.lit(iters).cast("bigint").alias("refine_iters"),
            F.lit(nprobe).cast("bigint").alias("nprobe"),
            F.lit(train_mod).cast("bigint").alias("train_mod"),
            "query_id",
            "neighbor_id",
        )
        ann = part if ann is None else ann.unionByName(part)
    # managed ann_truth persist (shared with sim_ann_recall): without
    # it the exact scoring subtree re-evaluated once per consumer —
    # twice here (hit join + totals) and twice more through the
    # base-recall self-comparison below (r11 VERDICT item 2)
    bf = shared_ann_truth(spark, sf_dir)
    truth = bf.withColumn("_hit", F.lit(1))
    totals = bf.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    scored = (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("method", "refine_iters", "nprobe", "train_mod")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits")
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "recall_at_10",
            F.col("hits").cast("double") / F.col("n_truth").cast("double"),
        )
    )
    # base-recall comparison as a global window over the 4-row scored
    # ladder (aggregate-grain single-partition window — the documented
    # acceptable shape) instead of the old broadcast self-crossJoin,
    # which re-evaluated the whole ann+truth subtree a second time
    base = F.max(
        F.when(F.col("method") == "ivf_base_p1", F.col("recall_at_10"))
    ).over(Window.partitionBy())
    return (
        scored.withColumn("base_recall", base)
        .select(
            "method",
            "refine_iters",
            "nprobe",
            "train_mod",
            "hits",
            "n_truth",
            "recall_at_10",
            (F.col("recall_at_10") - F.col("base_recall")).alias(
                "delta_vs_p1"
            ),
        )
        .orderBy("method")
    )


_BPE_ROUNDS = 4


def _bpe_rounds_ctes(rounds: int = _BPE_ROUNDS) -> str:
    """The shared CTE chain of the BPE family: doc-aware tokens ->
    word-frequency vocabulary -> per-round (pairs_i, top_i, syms_i)
    triples, with ``word`` carried through every round so the encode
    oracle can join final symbol counts back to documents. Ends after
    syms{rounds} WITHOUT a closing comma."""
    parts = [
        f"""
    toksd AS (SELECT doc_id, lower(unnest({_SQL_TOKS})) AS word
              FROM documents),
    wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS word_freq
           FROM toksd GROUP BY 1),
    syms0 AS (
      SELECT word, word_freq,
             list_transform(generate_series(1, length(word)),
                            i -> substr(word, i, 1)) AS syms
      FROM wf
    )"""
    ]
    for r in range(1, rounds + 1):
        i, prev = r, r - 1
        parts.append(f"""
    pairs{i} AS (
      SELECT p.pa, p.pb, CAST(SUM(word_freq) AS BIGINT) AS cnt FROM (
        SELECT word_freq,
               unnest(list_transform(
                 generate_series(1, len(syms) - 1),
                 j -> {{'pa': syms[j], 'pb': syms[j + 1]}})) AS p
        FROM syms{prev} WHERE len(syms) >= 2
      ) GROUP BY 1, 2
    ),
    top{i} AS (SELECT pa, pb, cnt FROM pairs{i}
               ORDER BY cnt DESC, pa, pb LIMIT 1),
    syms{i} AS (
      SELECT word, word_freq,
             list_reduce(
               list_transform(syms, s -> [s]),
               (a, b) -> CASE
                 WHEN len(a) > 0 AND a[-1] = t.pa AND b[1] = t.pb
                 THEN list_append(a[:len(a) - 1], t.pa || t.pb)
                 ELSE list_concat(a, b)
               END) AS syms
      FROM syms{prev} CROSS JOIN top{i} t
    )""")
    return ",".join(parts)


def _bpe_train_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """DuckDB replay of operators.text.bpe_train_merges, the loop
    unrolled into per-round CTE triples (_bpe_rounds_ctes — the k-core
    unrolled-oracle discipline). Merge application mirrors the Spark
    aggregate fold with list_reduce over single-element symbol LISTS
    (accumulator and elements must share a type, and DuckDB 1.0's
    list_reduce silently NULLs STRUCT accumulator fields — measured,
    so the fold carries plain VARCHAR[] state; the first [s1] seeds
    the accumulator, matching Spark's empty-array init + first
    append); the greedy left-to-right non-overlap semantics are
    identical because both folds append-or-merge one symbol at a
    time. Strings + integer counts only."""
    finals = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_rank, pa AS left_sym, pb AS right_sym, "
        f"pa || pb AS merged, cnt AS pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH {_bpe_rounds_ctes(rounds)}
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank, left_sym, right_sym,
           merged, pair_count
    FROM ({finals})
    ORDER BY merge_rank
    """


@query("text_bpe_train_rounds", oracle=_bpe_train_oracle())
def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multi-round BPE merge-training loop
    (operators/text.py bpe_train_merges, 4 rounds): count adjacent
    symbol pairs over the vocabulary, pick the argmax pair
    (count DESC, pair ASC — deterministic), apply the merge greedily
    left-to-right to every word's symbol array, repeat.
    text_bpe_pair_merge is this loop's round-1 counting stage; the
    trainer is the iterative-algorithm form (per-round 1-row argmax
    collect, the CC/codebook eager-build precedent) whose oracle
    unrolls the rounds into CTEs and replays the merge fold with
    list_reduce — strings and integer counts only, so the hash
    compare is exact by construction."""
    return spark.createDataFrame(
        _shared_bpe_merges(spark, sf_dir), _BPE_MERGE_SCHEMA
    ).orderBy("merge_rank")


_BPE_MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, "
    "merged string, pair_count bigint"
)


def _shared_bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The trained merge table as a memoized DRIVER ARTIFACT
    (shared_cache.memo_artifact — the fitted-codebook posture): the
    4-round trainer is eager (one vocabulary-wide count job + 1-row
    argmax per round), and three queries consume it
    (text_bpe_train_rounds, text_bpe_encode_counts,
    corpus_pack_bpe_budget), so without the memo a composed run
    re-trained the identical merges three times (~12 cluster jobs for
    one KB-sized table; review finding, r12). Rows are plain tuples;
    rebuilding the tiny DataFrame per consumer is free."""
    from ..operators.text import bpe_train_merges

    return memo_artifact(
        "bpe_merges",
        spark,
        sf_dir,
        lambda: [
            tuple(r)
            for r in bpe_train_merges(
                load_table(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
            ).collect()
        ],
        params=(_BPE_ROUNDS,),
    )


@query(
    "text_bpe_encode_counts",
    oracle=f"""
    WITH {{ctes}},
    pertf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toksd GROUP BY 1, 2
    ),
    vlen AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM syms{{k}}
    )
    SELECT p.doc_id,
           CAST(SUM(p.tf * v.n_bpe) AS BIGINT) AS n_tokens,
           CAST(SUM(p.tf) AS BIGINT) AS n_words
    FROM pertf p JOIN vlen v USING (word)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """.format(ctes="__CTES__", k=_BPE_ROUNDS).replace("__CTES__", _bpe_rounds_ctes()),
)
def text_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the BPE arc (train -> apply): segment every
    document under the 4 merges text_bpe_train_rounds learns, and
    report per-doc token counts under the learned vocabulary — the
    budgeting number a packing/mixing stage consumes, now from the
    REAL trained segmentation instead of the regex proxy
    (text_profile's bpe_token_count_expr).

    Scale shape: the merges are trained once (4 one-row argmax
    collects — the eager-builder precedent); SEGMENTATION runs over
    the VOCABULARY, never the corpus (one chained merge fold per
    distinct word, operators/text.py merge_fold_expr — the same
    expression the trainer applies, so train and encode can never
    disagree); per-doc counts are one (doc, word) groupBy joined to
    the vocabulary-sized symbol-length table. The oracle replays
    training and segmentation through the shared _bpe_rounds_ctes
    chain — integers only, hash-exact by construction."""
    return _bpe_doc_token_counts(spark, sf_dir).orderBy("doc_id")


def _bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, n_tokens, n_words) under the trained
    _BPE_ROUNDS merges — the encode kernel shared by
    text_bpe_encode_counts and corpus_pack_bpe_budget so the two can
    never disagree on training or segmentation. Merges come from the
    memoized artifact (_shared_bpe_merges): one training run serves
    every consumer."""
    from ..operators.text import char_syms_expr, merge_fold_expr

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (left, right)
        for _, left, right, _, _ in _shared_bpe_merges(spark, sf_dir)
    ]
    if len(merges) < _BPE_ROUNDS:
        # Fail loudly instead of hash-mismatching confusingly: the
        # encode oracle unrolls exactly _BPE_ROUNDS CTE rounds and its
        # `syms{r} = syms{prev} CROSS JOIN top{r}` goes EMPTY when a
        # round learns no merge, so an early-exited training would
        # yield a zero-row oracle against a populated Spark result.
        # Never hit at 4 rounds on natural text; the TRAIN oracle's
        # UNION-of-top{r} form matches on early exit, only the encode
        # side breaks (ADVICE r11).
        raise ValueError(
            f"BPE training early-exited with {len(merges)} < "
            f"{_BPE_ROUNDS} merges; the encode oracle cannot replay "
            "a short merge table"
        )
    pertf = (
        lower_terms(docs)
        .groupBy("doc_id", F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    syms = char_syms_expr("word")
    for pa, pb in merges:
        syms = merge_fold_expr(syms, pa, pb)
    vlen = (
        pertf.select("word")
        .distinct()
        .select("word", F.size(syms).cast("bigint").alias("n_bpe"))
    )
    return (
        pertf.join(vlen, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("n_bpe")).cast("bigint").alias("n_tokens"),
            F.sum("tf").cast("bigint").alias("n_words"),
        )
    )


_PACK_BPE_BUDGET = 512
_PACK_BPE_BLOCK = 64


@query(
    "corpus_pack_bpe_budget",
    oracle=f"""
    WITH {{ctes}},
    pertf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toksd GROUP BY 1, 2
    ),
    vlen AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe FROM syms{{k}}
    ),
    doccnt AS (
      SELECT p.doc_id, CAST(SUM(p.tf * v.n_bpe) AS BIGINT) AS n_tokens
      FROM pertf p JOIN vlen v USING (word)
      GROUP BY p.doc_id
    ),
    kept AS (
      SELECT d.doc_id, d.source, c.n_tokens
      FROM doccnt c JOIN documents d USING (doc_id)
      WHERE c.n_tokens > 0
    ),
    cum_t AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM kept
    ),
    spans AS (
      SELECT source, doc_id, n_tokens, cum, cum - n_tokens AS strt,
             unnest(generate_series(
               CAST(FLOOR((cum - n_tokens) / {{budget}}) AS BIGINT),
               CAST(FLOOR((cum - 1) / {{budget}}) AS BIGINT))) AS seq_id
      FROM cum_t
    )
    SELECT source, seq_id, doc_id, n_tokens,
           CAST(GREATEST(strt, seq_id * {{budget}})
                - seq_id * {{budget}} AS BIGINT) AS tok_lo,
           CAST(LEAST(cum, (seq_id + 1) * {{budget}})
                - seq_id * {{budget}} AS BIGINT) AS tok_hi
    FROM spans
    ORDER BY source, seq_id, doc_id
    """.format(
        ctes="__CTES__", k=_BPE_ROUNDS, budget=_PACK_BPE_BUDGET
    ).replace("__CTES__", _bpe_rounds_ctes()),
)
def corpus_pack_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer arc COMPLETED into a training-data artifact:
    train the BPE merges (text_bpe_train_rounds), encode every doc
    under them (text_bpe_encode_counts' shared kernel), then pack the
    corpus into fixed 512-token training sequences using the REAL
    trained-tokenizer counts — where corpus_pack_sharded packs by the
    regex proxy count, this is the pipeline a production pretraining
    job runs: sequence boundaries depend on the tokenizer actually
    shipped. Same span schema/semantics as the verified packer
    ((source, seq_id, doc_id, n_tokens, tok_lo, tok_hi) half-open
    ranges, docs spanning sequences split exactly).

    Scale shape: encoding is vocabulary-grain (the merge fold runs per
    DISTINCT word, never per corpus row); packing is the two-phase
    distributed prefix-sum (pack_sequences_sharded, bounded window
    partitions via block_size); the oracle replays training,
    segmentation, and the ONE-WINDOW packing spec through the shared
    _bpe_rounds_ctes chain — integers only, hash-exact."""
    from ..operators.curation import pack_sequences_sharded

    counts = _bpe_doc_token_counts(spark, sf_dir).select("doc_id", "n_tokens")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pack_sequences_sharded(
        docs.join(counts, "doc_id"),
        token_col="n_tokens",
        budget=_PACK_BPE_BUDGET,
        shard_col="source",
        id_col="doc_id",
        block_size=_PACK_BPE_BLOCK,
    ).orderBy("source", "seq_id", "doc_id")


def _tv_drift_oracle() -> str:
    """DuckDB replay of corpus_source_tv_drift in HUGEINT (the twin of
    Spark's DECIMAL(38,0) — both hold the exact integers, and both
    engines' integer→double cast rounds the same value to the same
    double, so the single final division is bit-identical)."""
    return f"""
    WITH st AS (
      SELECT source, lower(t) AS term, CAST(count(*) AS BIGINT) AS n_st
      FROM (SELECT source, unnest({_SQL_TOKS}) AS t FROM documents)
      GROUP BY 1, 2
    ),
    ct AS (SELECT term, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
    ns AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_tokens,
                  CAST(COUNT(*) AS BIGINT) AS n_terms
           FROM st GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS big_n FROM ct),
    present AS (
      SELECT s.source,
             SUM(ABS(CAST(s.n_st AS HUGEINT) * t.big_n
                     - CAST(c.n_t AS HUGEINT) * n.n_tokens)) AS num_present,
             SUM(CAST(c.n_t AS HUGEINT)) AS nt_present
      FROM st s
      JOIN ct c USING (term)
      JOIN ns n USING (source)
      CROSS JOIN tot t
      GROUP BY s.source
    )
    SELECT n.source, n.n_tokens, n.n_terms,
           CAST(p.num_present
                + CAST(n.n_tokens AS HUGEINT) * (t.big_n - p.nt_present)
                AS DOUBLE)
           / CAST(2 * CAST(n.n_tokens AS HUGEINT) * t.big_n AS DOUBLE)
             AS tv_drift
    FROM ns n JOIN present p USING (source) CROSS JOIN tot t
    ORDER BY n.source
    """


@query("corpus_source_tv_drift", oracle=_tv_drift_oracle())
def corpus_source_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DISTRIBUTION DRIFT: the total-variation distance
    ½·Σ_t |p(t|source) − p(t|corpus)| between each source's term
    distribution and the corpus-wide one — the domain-drift monitor a
    corpus mix audit runs per ingest batch (the events family's
    anomaly/CUSUM discipline applied to text composition; the contrast
    query ranks individual terms, this is the one-number summary per
    source).

    Determinism the fixed-point way (the PageRank discipline applied
    to a statistic): the naive Σ|p−q| sums doubles in partition order
    — unhashable. Here every per-term contribution is the exact
    integer |n_st·N − n_t·N_s| (DECIMAL(38,0) products: exact up to
    ~1e13-token sources, far past 100 TB cell counts), the per-source
    sum is exact decimal addition (order-free), terms ABSENT from a
    source fold in CLOSED-FORM as N_s·(N − Σ_present n_t) — no
    source×vocabulary grid materializes — and the ONE final division
    by 2·N_s·N happens in doubles on both engines' identically-rounded
    cast of the same exact integer.

    Scale shape: one corpus tokenize → groupBy(source, term) with
    map-side combine (the heavy-hitter shuffle); corpus term totals
    derive from that table (vocabulary-grain, never a second corpus
    scan); the term join is vocabulary-sized; per-source totals
    broadcast. Output is one row per source."""
    docs = load_table(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    # managed persist (r16, guide §2.4): every downstream relation (ct,
    # ns, tot, present, readout) derives from the (source, term)-grain
    # count table, and left lazy the tokenize + groupBy shuffle
    # re-evaluated ~5x per action (ct twice via tot/present, ns twice,
    # st once more inside present). The persisted output is
    # vocabulary x source grain — KBs — while the recomputation is a
    # full corpus tokenize; warm exec 1.54 -> see OPTIMIZATION_r16.md.
    st = memo_persist(
        "tv_drift_source_term_counts",
        spark,
        sf_dir,
        lambda: (
            lower_terms(docs, "source")
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_st"))
        ),
    )
    ct = st.groupBy("term").agg(F.sum("n_st").cast("bigint").alias("n_t"))
    ns = st.groupBy("source").agg(
        F.sum("n_st").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    tot = ct.agg(F.sum("n_t").cast("bigint").alias("big_n"))
    present = (
        st.join(ct, "term")
        .join(ns.select("source", "n_tokens"), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("n_st").cast(dec) * F.col("big_n").cast(dec)
                    - F.col("n_t").cast(dec) * F.col("n_tokens").cast(dec)
                )
            ).alias("num_present"),
            F.sum(F.col("n_t").cast(dec)).alias("nt_present"),
        )
    )
    return (
        ns.join(present, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "n_terms",
            (
                (
                    F.col("num_present")
                    + F.col("n_tokens").cast(dec)
                    * (F.col("big_n").cast(dec) - F.col("nt_present"))
                ).cast("double")
                / (
                    F.lit(2).cast(dec)
                    * F.col("n_tokens").cast(dec)
                    * F.col("big_n").cast(dec)
                ).cast("double")
            ).alias("tv_drift"),
        )
        .orderBy("source")
    )

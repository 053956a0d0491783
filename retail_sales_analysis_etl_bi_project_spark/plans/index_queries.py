"""Round-8b queries (registered after stat_queries):

- text_inverted_index : the posting-list build — term -> document
                        frequency, total term frequency, and a capped
                        ORDERED posting list (the search-index /
                        shared-passage-lookup primitive; first
                        registered query exercising ordered
                        list-aggregation into a serialized column)
- etl_column_profile  : per-column DQ profile of the orders table via
                        UNPIVOT/stack — row count, null count, exact
                        distinct count, lexicographic min/max of the
                        canonical string form (the schema-agnostic
                        profiling report that complements
                        etl_expectations_report's rule-based checks)

Reference scope: the reference's validation stops at count/null spot
checks (/root/reference/etl/etl.py:200-218); the profile generalizes
them to every column through one melt, and the inverted index belongs
to the LLM-pipeline extension surface (winnowing/ExactSubstr lookups
land in exactly this shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import lower_terms
from ..sources.tables import load_table
from .registry import query
from .text_queries import _SQL_TOKS

_POSTINGS_CAP = 8


@query(
    "text_inverted_index",
    oracle=f"""
    WITH tf AS (
      SELECT lower(t) AS term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents)
      GROUP BY 1, 2
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(list_sort(list(doc_id))[1:{_POSTINGS_CAP}], ',')
             AS postings
    FROM tf GROUP BY term ORDER BY term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: one row per term with document
    frequency, total term frequency, and the first {cap} postings in
    doc_id order serialized as a comma string — the lookup structure
    behind search, contamination probes, and shared-passage
    resolution (text_winnow_fingerprints' output is consumed through
    exactly this shape).

    The posting list is CAPPED (head of the doc_id-sorted list):
    uncapped lists for stopword-frequency terms would be corpus-sized
    rows — the classic skew trap of index builds. df/total_tf still
    count everything; only the materialized list is bounded, as in
    real index segments (full postings shard across segment files).

    Scale shape: tf = explode -> groupBy(term, doc_id) with map-side
    partial aggregation (one row per distinct pairing crosses the
    shuffle); the per-term rollup reuses the term-keyed partitioning
    for collect_list (bounded by the cap after sort-slice, exact
    BIGINT sums for df/total_tf). Ordered-list determinism comes from
    array_sort AFTER collection — collect_list order is
    partition-nondeterministic, sorting makes the serialized column
    hash-stable across engines and runs."""
    tf = (
        lower_terms(load_table(spark, sf_dir, "documents"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list("doc_id")),
                        1,
                        _POSTINGS_CAP,
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .orderBy("term")
    )


if text_inverted_index.__doc__:  # absent under PYTHONOPTIMIZE=2
    text_inverted_index.__doc__ = text_inverted_index.__doc__.replace(
        "{cap}", str(_POSTINGS_CAP)
    )

# (column, DuckDB canonical form, Spark canonical form) — the two
# engine expressions live side by side so a new column can never pick
# up mismatched canonicalizations (review finding: the Spark side was
# originally re-derived from a name-pattern ladder)
_PROFILE_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)",
     "cast(o_orderkey as string)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)",
     "cast(o_custkey as string)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"),
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
     "cast(cast(o_orderdate as date) as string)"),
)


def _profile_oracle() -> str:
    melt = " UNION ALL ".join(
        f"SELECT '{name}' AS col_name, {duck} AS val FROM orders"
        for name, duck, _ in _PROFILE_COLS
    )
    return f"""
    WITH melted AS ({melt})
    SELECT col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
           min(val) AS min_val,
           max(val) AS max_val
    FROM melted GROUP BY col_name ORDER BY col_name
    """


@query("etl_column_profile", oracle=_profile_oracle())
def etl_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-agnostic column profile of the orders table — row count,
    null count, EXACT distinct count, and min/max of each column's
    canonical string form — the first-look DQ report an ETL runs
    before writing expectations rules (the reference eyeballs this via
    pandas info()/head(), /root/reference/etl/etl.py:200-218;
    etl_expectations_report covers the rule-based follow-up).

    Canonicalization: bigints and dates cast to strings (exact,
    format-stable in both engines: digits, and DATE's YYYY-MM-DD —
    doubles are deliberately EXCLUDED from the profiled set because
    Spark and DuckDB disagree on float-to-string rendering, the same
    reason money pipelines are decimal end-to-end). min/max are
    therefore LEXICOGRAPHIC bounds of the canonical form — documented
    as such; numeric extrema live in the typed KPI queries.

    Scale shape: the melt is Spark's `stack` (one pass over the scan,
    no join of per-column branches — the table is read ONCE for all
    columns), then one groupBy(col_name) whose cardinality is the
    column count. count(DISTINCT val) expands to the standard
    two-phase distinct aggregate, partial per partition — at 100 TB
    swap in approx_count_distinct per the agg_sketch_profile
    precedent; the exact form is what the oracle can replay."""
    stack_args = []
    for name, _, spark_expr in _PROFILE_COLS:
        stack_args.append(f"'{name}'")
        stack_args.append(spark_expr)
    # fact at cluster width before the stack melt + partial distinct
    # aggregation (r16, guide §2.2/§2.5 — see plans/bi.py q02; counts
    # exact, min/max lexicographic — both partitioning-independent)
    from ..sources.tables import load_fact_wide

    melted = load_fact_wide(spark, sf_dir, "orders", "o_orderkey").select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, "
            + ", ".join(stack_args)
            + ") as (col_name, val)"
        )
    )
    return (
        melted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").isNull().cast("bigint")).alias("n_nulls"),
            F.countDistinct("val").alias("n_distinct"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("col_name")
    )


# BM25 constants, computed ONCE in Python and injected as identical
# repr() literals into BOTH engines — (k1 + 1) evaluated separately on
# each side could round differently from a shared literal.
_BM25_TERMS = ("window", "merge", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K1P1 = _BM25_K1 + 1.0
_BM25_TOP = 20


def _bm25_oracle() -> str:
    # every numeric literal rides a CAST(... AS DOUBLE): DuckDB parses
    # bare 0.5/1.2 as DECIMAL and decimal arithmetic rounds differently
    # from IEEE doubles (measured: 2-ulp score drift) — the same
    # decimal-literal trap the money oracles document
    k1 = f"CAST({_BM25_K1!r} AS DOUBLE)"
    b = f"CAST({_BM25_B!r} AS DOUBLE)"
    k1p1 = f"CAST({_BM25_K1P1!r} AS DOUBLE)"
    half = "CAST(0.5 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    per_term = ",\n             ".join(
        f"COALESCE(SUM(CASE WHEN term = '{t}' THEN w END), "
        f"CAST(0.0 AS DOUBLE)) AS s{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    score = " + ".join(f"s{i}" for i in range(len(_BM25_TERMS)))
    return f"""
    WITH tf AS (
      SELECT doc_id, lower(t) AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS t FROM documents)
      GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    qtf AS (SELECT * FROM tf WHERE term IN ({terms})),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
    w AS (
      SELECT q.doc_id, q.term, d.dl,
             (((s.n_docs - f.df) + {half}) / (f.df + {half}))
             * ((q.tf * {k1p1})
                / (q.tf + {k1} * (({one} - {b})
                                  + (({b} * d.dl) / s.avgdl)))) AS w
      FROM qtf q
      JOIN df f USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(MAX(dl) AS BIGINT) AS dl,
             CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
             {per_term}
      FROM w GROUP BY doc_id
    )
    SELECT doc_id, dl, n_hit_terms, {score} AS score
    FROM per_doc
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOP}
    """


@query("text_bm25_search", oracle=_bm25_oracle())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones) for a literal
    3-term query over the corpus — the scoring stage behind the
    inverted index: per (doc, query term),
    idf * tf(k1+1) / (tf + k1(1 - b + b·dl/avgdl)) with k1=1.2,
    b=0.75, summed over query terms in FIXED term order. IDF is the
    RATIONAL form (N - df + 0.5)/(df + 0.5) — the same monotone
    log-free substitution as text_tfidf_topterms (and it stays
    positive where the classic ln form can go negative for
    df > N/2), so every score is IEEE +,*,/ and hash-exact across
    engines. N/avgdl derive from the tf table's doc set (docs with
    at least one token).

    Scale shape: term frequencies come from the managed term_tf
    persist (one tokenize per application/corpus, shared with the
    tfidf/contrast family); the query filter cuts tf to |terms|
    postings BEFORE any join (at web scale this is the inverted-index
    lookup — postings-sized, never corpus-sized); df over the
    filtered postings is |terms| rows broadcast back; doc length and
    the 1-row corpus stats join once; the per-doc term pivot is a
    conditional aggregation (each term contributes exactly one row,
    so SUM is order-free), and the fixed-order final addition keeps
    the score deterministic. Top-20 is TakeOrderedAndProject with a
    doc_id tiebreak — a deterministic cut."""
    from .analysis_queries import _shared_tf

    k1 = F.lit(_BM25_K1)
    b = F.lit(_BM25_B)
    k1p1 = F.lit(_BM25_K1P1)

    tf = _shared_tf(spark, sf_dir).select("doc_id", "term", "tf")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qtf = tf.filter(F.col("term").isin(*_BM25_TERMS))
    df = qtf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    w = (
        qtf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "dl",
            (
                (
                    ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    (F.col("tf") * k1p1)
                    / (
                        F.col("tf")
                        + k1
                        * (
                            (F.lit(1.0) - b)
                            + ((b * F.col("dl")) / F.col("avgdl"))
                        )
                    )
                )
            ).alias("w"),
        )
    )
    per_doc = w.groupBy("doc_id").agg(
        F.max("dl").cast("bigint").alias("dl"),
        F.count(F.lit(1)).cast("bigint").alias("n_hit_terms"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("w"))), F.lit(0.0)
            ).alias(f"s{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    score = F.col("s0")
    for i in range(1, len(_BM25_TERMS)):
        score = score + F.col(f"s{i}")
    return (
        per_doc.select("doc_id", "dl", "n_hit_terms", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOP)
    )

"""The composed LLM-training-corpus pipeline (north-star capstone):
language-ID -> quality filter -> fingerprint dedup in ONE pass over the
documents table — the shape a 100 TB pretraining-data job actually runs
(filters are per-row expressions fused into the scan; dedup is the one
hash shuffle; everything else is free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import pack_sequences, temperature_sample
from ..operators.dedup import contaminated_ids
from ..operators.text import (
    fingerprint_expr,
    predicted_lang_expr,
    quality_score_expr,
    token_count_expr,
)
from ..sources.tables import load_table
from .registry import query
from .text_queries import _SQL_NPUNCT, _SQL_NSTOP, _SQL_NTOK

_SQL_QUALITY = f"""
    least(CASE WHEN {_SQL_NTOK} > 0
               THEN CAST({_SQL_NSTOP} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE)
               ELSE 0.0 END * 2.0, 1.0) * 0.5
    + (CASE WHEN {_SQL_NTOK} > 0
            AND CAST(length(text) AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) >= 3.0
            AND CAST(length(text) AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) <= 12.0
            THEN 1.0 ELSE 0.0 END) * 0.3
    + (1.0 - least(CASE WHEN length(text) > 0
                        THEN CAST({_SQL_NPUNCT} AS DOUBLE) / CAST(length(text) AS DOUBLE)
                        ELSE 0.0 END * 10.0, 1.0)) * 0.2
"""


# word 8-gram shingles, DuckDB twin of operators.dedup.shingles_expr(n=8)
_SQL_SH8 = """
    SELECT doc_id,
           list_distinct(
             list_transform(
               generate_series(1, greatest(len(toks) - 7, 1)),
               i -> coalesce(array_to_string(toks[i:i+7], ' '), '')))
             AS sh
    FROM (SELECT doc_id,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                      THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
          FROM documents)
"""

# deterministic held-out "benchmark" split: doc_id % 97 == 0 stands in
# for the eval suites a real pipeline guards against.
_BENCH_MOD = 97


def shared_scored_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed persist of the SCORED non-benchmark corpus — doc_id,
    source, n_chars, predicted_lang, quality, n_tokens, fp — the
    regex-heavy scoring pass of corpus_filter_pipeline, evaluated once
    per run; a production curation job materializes exactly this table
    between scoring and dedup."""
    from ..operators.partitioning import to_cluster_width
    from .shared_cache import memo_persist

    def build() -> DataFrame:
        docs = to_cluster_width(
            load_table(spark, sf_dir, "documents"), "doc_id"
        )
        corpus = docs.filter(~(F.col("doc_id") % _BENCH_MOD == 0))
        return corpus.select(
            "doc_id",
            "source",
            "n_chars",
            predicted_lang_expr("text").alias("predicted_lang"),
            quality_score_expr("text").alias("quality"),
            token_count_expr("text").alias("n_tokens"),
            fingerprint_expr("text").alias("fp"),
        )

    return memo_persist("curation_scored", spark, sf_dir, build)


def shared_contaminated_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed persist of the benchmark-contamination id set (docs
    sharing an 8-gram with the held-out split) — the shingle explode +
    broadcast gram join, evaluated once per run; contamination-set
    size is bounded by the corpus, rows are single ids."""
    from ..operators.partitioning import to_cluster_width
    from .shared_cache import memo_persist

    def build() -> DataFrame:
        docs = to_cluster_width(
            load_table(spark, sf_dir, "documents"), "doc_id"
        )
        is_bench = F.col("doc_id") % _BENCH_MOD == 0
        return contaminated_ids(docs.filter(~is_bench), docs.filter(is_bench), n=8)

    return memo_persist("curation_dirty", spark, sf_dir, build)


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN (CASE WHEN {_SQL_NTOK} > 0
                        THEN CAST({_SQL_NSTOP} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE)
                        ELSE 0.0 END) >= 0.12 THEN 'en' ELSE 'other' END AS predicted_lang,
             {_SQL_QUALITY} AS quality,
             CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents
      WHERE doc_id % {_BENCH_MOD} != 0
    ), sh8 AS ({_SQL_SH8}),
    bng AS (
      SELECT DISTINCT md5(g) AS gh
      FROM (SELECT unnest(sh) AS g FROM sh8 WHERE doc_id % {_BENCH_MOD} = 0)
    ), contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM (SELECT doc_id, md5(unnest(sh)) AS gh FROM sh8
            WHERE doc_id % {_BENCH_MOD} != 0) s
      JOIN bng USING (gh)
    ), kept AS (
      SELECT * FROM scored
      WHERE quality >= 0.5 AND n_tokens >= 30
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept
    )
    SELECT doc_id, source, predicted_lang, quality, n_tokens, n_chars
    FROM deduped WHERE rn = 1
    ORDER BY doc_id
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation in one plan: score every document
    (language, quality, token count — fused per-row expressions), drop
    the held-out benchmark split (doc_id % 97 == 0) and every doc that
    shares an 8-gram with it (benchmark contamination,
    operators/dedup.py contaminated_ids — broadcast hash join against
    the benchmark's n-gram hashes), keep quality >= 0.5 and >= 30
    tokens, then fingerprint-dedup keeping the lowest doc_id per
    cluster. One scan feeds both the scoring and the contamination
    explode; the only corpus-sized shuffle is the dedup window — at
    100 TB this stays scan-bound, which is the point.

    The scan is hash-repartitioned up front: the regex scoring and
    8-gram shingling are the compute-heavy phase, and a single-file
    corpus would otherwise evaluate them serially at input-file
    granularity (the minhash_signatures discipline). Scoring and the
    contamination set come from managed persists (one scoring pass +
    one shingle explode per run)."""
    from pyspark.sql.window import Window

    dirty = shared_contaminated_ids(spark, sf_dir)
    scored = shared_scored_corpus(spark, sf_dir)
    kept = (
        scored.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 30))
        .join(dirty, "doc_id", "left_anti")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "predicted_lang", "quality", "n_tokens", "n_chars")
        .orderBy("doc_id")
    )


_PACK_BUDGET = 512
_SAMPLE_FRAC = 0.6


@query(
    "corpus_sample_and_pack",
    oracle=f"""
    WITH cnt AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
    wts AS (SELECT source, c,
                   CAST(FLOOR(sqrt(CAST(c AS DOUBLE) * CAST(1000000.0 AS DOUBLE)))
                        AS BIGINT) AS w
            FROM cnt),
    tot AS (SELECT SUM(c) AS n, SUM(w) AS sumw FROM wts),
    th AS (SELECT source,
                  CAST(LEAST(CAST(1000000.0 AS DOUBLE),
                             FLOOR(CAST({_SAMPLE_FRAC} AS DOUBLE) * n * w
                                   * CAST(1000000.0 AS DOUBLE)
                                   / (CAST(sumw AS DOUBLE) * CAST(c AS DOUBLE))))
                       AS BIGINT) AS keep_thresh
           FROM wts, tot),
    kept AS (
      SELECT d.doc_id, d.source, CAST({{ntok}} AS BIGINT) AS n_tokens
      FROM documents d JOIN th USING (source)
      WHERE {{h60}} % 1000000 < keep_thresh AND CAST({{ntok}} AS BIGINT) > 0
    ),
    cum_t AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM kept
    ),
    spans AS (
      SELECT source, doc_id, n_tokens, cum, cum - n_tokens AS strt,
             unnest(generate_series(
               CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT),
               CAST(FLOOR((cum - 1) / {_PACK_BUDGET}) AS BIGINT))) AS seq_id
      FROM cum_t
    )
    SELECT source, seq_id, doc_id, n_tokens,
           CAST(GREATEST(strt, seq_id * {_PACK_BUDGET})
                - seq_id * {_PACK_BUDGET} AS BIGINT) AS tok_lo,
           CAST(LEAST(cum, (seq_id + 1) * {_PACK_BUDGET})
                - seq_id * {_PACK_BUDGET} AS BIGINT) AS tok_hi
    FROM spans
    ORDER BY source, seq_id, doc_id
    """.replace("{ntok}", _SQL_NTOK).replace(
        "{h60}",
        "CAST(list_sum(list_transform(generate_series(1,15), "
        "i -> CAST(strpos('0123456789abcdef', "
        "substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)"
        " << (4*(15-i)))) AS BIGINT)",
    ),
)
def corpus_sample_and_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing + sequence packing, the curation steps downstream
    of filtering/dedup (operators/curation.py): alpha=0.5 temperature
    sampling upweights rare sources (deterministic hash60 keep
    decision against an integer per-source threshold), then each
    source's token stream is packed into 512-token sequences in doc_id
    order — one row per (doc, sequence) span with the in-sequence token
    range. Sampling is a broadcast of a 5-row stat table onto a
    scan-fused filter; packing is one integer window cumsum per source
    (sub-shard + two-phase cumsum at real scale, SCALE.md)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_expr("text").alias("n_tokens")
    )
    sampled = temperature_sample(
        docs, strata_col="source", id_col="doc_id", frac=_SAMPLE_FRAC
    ).select("doc_id", "source", "n_tokens")
    return pack_sequences(
        sampled,
        token_col="n_tokens",
        budget=_PACK_BUDGET,
        shard_col="source",
        id_col="doc_id",
    ).orderBy("source", "seq_id", "doc_id")

"""Round-5 extension queries, registered after the r1-r4 surface.

Contents:
- text_top_tokens     : corpus heavy-hitters (exact, full oracle)
- etl_json_roundtrip  : JSON-lines staging sink/source roundtrip
- events_variant_stats: Spark 4 VARIANT typed JSON extraction
- etl_orc_roundtrip   : typed ORC staging roundtrip
- corpus_split_assignment: deterministic train/val/test hash split
- dedup_corpus_after_removal: near-dup removal endpoint (keep representatives)
- sim_ann_recall (r6)  : recall@k audit of every ANN method vs brute force
- dedup_family_recall (r6): pair-recall audit of each LSH dedup path vs
  its exact all-pairs baseline
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .etl_queries import _gc_stale_staging_dirs
from .registry import query
from .text_queries import _SQL_TOKS

@query(
    "text_top_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({_SQL_TOKS})) AS token FROM documents
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM toks
    GROUP BY 1
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy-hitters: the 20 most frequent (case-folded) tokens
    with occurrence and document frequencies — the vocabulary/stopword
    audit every tokenizer-budget decision starts from.

    Scale shape: explode -> groupBy(token) with map-side partial
    aggregation, so the shuffle carries one row per (partition, distinct
    token), never per occurrence — hot tokens (and 'the' IS a hot key)
    are combined before they move. The top-20 is orderBy+limit, which
    Spark plans as TakeOrderedAndProject: each partition ships only its
    own top 20, no global sort. Ties broken by token text so the LIMIT
    is deterministic and hash-comparable.

    When the token vocabulary itself outgrows a comfortable shuffle
    (web-scale corpora: billions of distinct tokens), swap the exact
    groupBy for Spark 4's approx_top_k sketch — fixed-size state,
    map-side mergeable; tests/test_agg_approx.py pins the sketch to
    this exact query's results at test scale."""
    from ..operators.text import lower_terms

    docs = load_table(spark, sf_dir, "documents")
    tall = lower_terms(docs).select("doc_id", F.col("term").alias("token"))
    return (
        tall.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


@query(
    "etl_json_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
    FROM orders
    """,
)
def etl_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited-JSON staging sink + source (the CSV roundtrip's
    sibling for systems that exchange JSON lines): write orders to a
    JSON-lines staging dir — dates serialized as the reference's
    d-M-yyyy strings (P8), money as exact decimal-rendered strings —
    read it back with an explicit schema (NO schema inference: an
    inference pass is a second full scan at 100 TB and can type-flip on
    dirty rows), and coerce back to typed columns. The oracle reads the
    parquet directly, proving the JSON write+read+coerce cycle is
    lossless. Same staging-dir lifecycle as etl_csv_roundtrip (uuid
    dir per invocation + age-gated GC)."""
    import os
    import uuid

    from ..sources.csv import write_staging

    _gc_stale_staging_dirs()
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "d-M-yyyy").alias("order_date_raw"),
        # decimal -> text is exact ('123.45'); a double would JSON-render
        # in shortest-repr notation and risk cross-engine formatting drift
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias(
            "total_price_raw"
        ),
    )
    stage_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..",
        "spark-warehouse",
        f"json_stage_orders_{os.path.basename(sf_dir.rstrip('/'))}_{uuid.uuid4().hex[:8]}",
    )
    write_staging(staged, stage_dir, fmt="json")
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, "
        "order_date_raw string, total_price_raw string"
    ).json(stage_dir)
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("order_date_raw", "d-M-yyyy").alias("order_date"),
        F.col("total_price_raw").cast("decimal(12,2)").cast("double").alias(
            "total_price"
        ),
    )


@query(
    "events_variant_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_present,
           CAST(MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(COUNT(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_distinct
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured stats over events.props through Spark 4's VARIANT
    type: ``try_parse_json`` decodes the JSON string ONCE into the
    binary variant encoding, and every typed path extraction
    (``try_variant_get``) is then an O(path) binary lookup — at 100 TB
    this is the difference between re-tokenizing the JSON text per
    extraction (get_json_object) and reading a parsed structure; with a
    VARIANT-typed column persisted in the lake, the parse disappears
    from the query entirely (shredding). Absent keys / invalid JSON
    degrade to NULL through the try_* forms — the same coercion contract
    as the engine's P7 lossy casts.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("k_present"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").alias("k_sum"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
        .orderBy("event_type")
    )


@query(
    "etl_orc_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS total_price
    FROM orders
    """,
)
def etl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC staging sink + source — the third columnar interchange format
    next to parquet and the text roundtrips (CSV/JSON): write orders to
    ORC with TYPED columns (date/decimal survive natively — unlike the
    text formats there is no string serialization layer to coerce
    back), read it back, and project. The oracle reads the parquet
    directly, so the compare proves ORC's type system round-trips
    date and decimal losslessly through Spark's built-in ORC
    reader/writer. Same staging lifecycle as the CSV/JSON roundtrips."""
    import os
    import uuid

    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("total_price_dec"),
    )
    stage_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "..",
        "spark-warehouse",
        f"orc_stage_orders_{os.path.basename(sf_dir.rstrip('/'))}_{uuid.uuid4().hex[:8]}",
    )
    _gc_stale_staging_dirs()
    staged.write.mode("overwrite").orc(stage_dir)
    back = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, "
        "order_date date, total_price_dec decimal(12,2)"
    ).orc(stage_dir)
    return back.select(
        "o_orderkey",
        "o_orderpriority",
        "order_date",
        F.col("total_price_dec").cast("double").alias("total_price"),
    )


# ONE split-rule definition per engine, parameterized by the cuts —
# corpus_split_assignment (production 98/1/1) and the leakage audit
# (audit-grain 80/10/10) must never drift apart on the hash or the
# CASE shape (review finding, r12; the _sql_semantic_assign precedent).
_SPLIT_TRAIN_CUT = 980
_SPLIT_VAL_CUT = 990


def _split_col(train_cut: int, val_cut: int):
    """Spark split expression: hash60(doc_id) % 1000 vs integer cuts."""
    from ..operators.dedup import hash60_expr

    bucket = hash60_expr(F.col("doc_id").cast("string")) % 1000
    return (
        F.when(bucket < train_cut, "train")
        .when(bucket < val_cut, "val")
        .otherwise("test")
    )


def _sql_split_cte(train_cut: int, val_cut: int) -> str:
    """DuckDB twin of _split_col as a (doc_id, source, split) CTE
    body, sharing the _hex60 hash builder with the dedup oracles."""
    from .dedup_queries import _hex60

    return f"""
      SELECT doc_id, source,
             CASE WHEN bucket < {train_cut} THEN 'train'
                  WHEN bucket < {val_cut} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, source,
               {_hex60("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
        FROM documents
      )"""


def _split_assignment_oracle() -> str:
    return f"""
    WITH s AS ({_sql_split_cte(_SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT)})
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query("corpus_split_assignment", oracle=_split_assignment_oracle())
def corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (98/1/1) — the split
    every training-data pipeline needs, done the only way that survives
    100 TB and reprocessing: a pure function of the document id
    (hash60(doc_id) % 1000 against integer thresholds), never
    rand()/sample(). Properties that matter at scale:

    - STABLE: re-running the pipeline, adding machines, or reordering
      input files never moves a doc across splits (no leakage of val
      docs into a later training run).
    - SCAN-FUSED: the assignment is a per-row expression — zero
      shuffle; the per-(source, split) audit here is one tiny groupBy.
    - JOINT with dedup: the same hash60 primitive drives dedup and
      sampling (operators/dedup.py, operators/curation.py), so split
      membership can be decided before or after dedup with identical
      results.

    The registered query returns the per-source split counts (the
    audit a pipeline actually records); the row-level assignment is the
    obvious projection of the same expression."""
    docs = load_table(spark, sf_dir, "documents")
    split = _split_col(_SPLIT_TRAIN_CUT, _SPLIT_VAL_CUT)
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


def _dedup_removal_oracle() -> str:
    from .dedup_queries import _cc_oracle

    return f"""
    WITH cc_full AS ({_cc_oracle()})
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM cc_full WHERE doc_id != cluster_id
    )
    ORDER BY d.doc_id
    """


@query("dedup_corpus_after_removal", oracle=_dedup_removal_oracle())
def dedup_corpus_after_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's ENDPOINT: the corpus with near-duplicate
    non-representatives REMOVED — what a training-data job actually
    materializes. Composes the full verified chain (shingles ->
    MinHash signatures -> LSH bands -> exact-Jaccard-verified pairs ->
    connected components) and keeps, per transitive cluster, only the
    representative (min doc_id) plus every unclustered doc.

    Scale shape: everything upstream is the already-audited bucketed
    pipeline; the removal itself is one LEFT ANTI join of the corpus
    against the clustered non-representative drop list. The drop list
    is corpus-PROPORTIONAL in real crawl dedup (30-80% of docs at web
    scale), so it is deliberately NOT broadcast-hinted: the anti-join
    shuffles on doc_id (the key the CC output is already hashed on)
    and AQE is free to demote it to a broadcast when the measured drop
    list is actually small. Hash-verified end to end against the
    recursive-CTE closure."""
    from .dedup_queries import shared_cluster_assignments

    docs = load_table(spark, sf_dir, "documents")
    cc = shared_cluster_assignments(spark, sf_dir)
    non_reps = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.join(non_reps, "doc_id", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _ann_recall_oracle() -> str:
    from .similarity_queries import (
        _bruteforce_oracle,
        _ivf_oracle,
        _ivfpq_oracle,
        _lsh_oracle,
    )

    return f"""
    WITH bf AS ({_bruteforce_oracle()}),
    lsh AS ({_lsh_oracle()}),
    ivf1 AS ({_ivf_oracle()}),
    ivf3 AS ({_ivf_oracle(iters=0, nprobe=3)}),
    ivfkm AS ({_ivf_oracle(iters=2)}),
    pq AS ({_ivfpq_oracle()}),
    ann AS (
      SELECT 'ivf_kmedians' AS method, query_id, neighbor_id FROM ivfkm
      UNION ALL SELECT 'ivf_nprobe1', query_id, neighbor_id FROM ivf1
      UNION ALL SELECT 'ivf_nprobe3', query_id, neighbor_id FROM ivf3
      UNION ALL SELECT 'ivfpq_adc', query_id, neighbor_id FROM pq
      UNION ALL SELECT 'lsh', query_id, neighbor_id FROM lsh
    ),
    tot AS (SELECT COUNT(*) AS n_truth FROM bf)
    SELECT a.method,
           CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(t.n_truth AS DOUBLE) AS recall_at_10
    FROM ann a
    LEFT JOIN bf b
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    CROSS JOIN tot t
    GROUP BY a.method, t.n_truth
    ORDER BY method
    """


@query("sim_ann_recall", oracle=_ann_recall_oracle())
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of EVERY registered ANN method against the exact
    brute-force top-k on the same query set — the audit that turns the
    ANN family's QUALITY (not just its arithmetic) into a hash-checked
    number (r5 VERDICT item 6). recall = |ANN top-10 ∩ exact top-10| /
    |exact top-10|, aggregated over the 5 query vectors per method.

    Every input is an already-hash-verified registered query, so this
    is a few joins over verified outputs: union the method results
    under a method label, LEFT JOIN against the brute-force truth set,
    one groupBy(method). The truth-set size rides a 1-row crossJoin
    (AQE broadcasts it), so nothing here adds a scale-relevant shuffle
    beyond the member pipelines themselves.

    The recall landscape this pins at sf0.01 (hash-checked, so any
    plan/codebook regression moves it): LSH trades recall for its
    256-bucket prune; IVF recovers recall with nprobe=3 > nprobe=1;
    PQ's 128x compression costs recall vs uncompressed IVF at equal
    probe count."""
    from .similarity_queries import (
        shared_ann_truth,
        sim_ivf_ann_topk,
        sim_ivf_kmedians_topk,
        sim_ivf_multiprobe_topk,
        sim_ivfpq_adc_topk,
        sim_lsh_ann_topk,
    )

    # managed ann_truth persist: the truth set is consumed twice below
    # (hit join + totals) and again by sim_ann_recall_tuning — ONE
    # brute-force evaluation serves all consumers (r11 VERDICT item 2)
    bf = shared_ann_truth(spark, sf_dir)
    methods = [
        ("ivf_kmedians", sim_ivf_kmedians_topk),
        ("ivf_nprobe1", sim_ivf_ann_topk),
        ("ivf_nprobe3", sim_ivf_multiprobe_topk),
        ("ivfpq_adc", sim_ivfpq_adc_topk),
        ("lsh", sim_lsh_ann_topk),
    ]
    ann = None
    for label, fn in methods:
        part = fn(spark, sf_dir).select(
            F.lit(label).alias("method"), "query_id", "neighbor_id"
        )
        ann = part if ann is None else ann.unionByName(part)
    truth = bf.withColumn("_hit", F.lit(1))
    totals = bf.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        ann.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("method")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("hits"))
        .crossJoin(totals)
        .select(
            "method",
            "hits",
            F.col("n_truth").cast("bigint").alias("n_truth"),
            (F.col("hits").cast("double") / F.col("n_truth").cast("double")).alias(
                "recall_at_10"
            ),
        )
        .orderBy("method")
    )


def _dedup_recall_oracle() -> str:
    from .dedup_queries import (
        _embedding_cosine_oracle,
        _embedding_lsh_oracle,
        _minhash_lsh_oracle,
        _ngram_jaccard_oracle,
        _sql_docs,
    )

    from .dedup_queries import _sql_vecs

    # BOTH families (method AND truth) run over their hash-prefix
    # samples in sampled-truth sweep mode (dedup_queries
    # _TRUTH_SAMPLE_K): the all-pairs Jaccard truth is what outgrows
    # the sf0.1 sweep timeout, and since r15 the all-pairs cosine
    # truth rides the vec sample too (r14 VERDICT item 3 — it was the
    # cold-registry tail). _sql_vecs()/_embedding_cosine_oracle()
    # collapse to the full corpus when the mode is off.
    return f"""
    WITH t_truth AS ({_ngram_jaccard_oracle()}),
    t_got AS ({_minhash_lsh_oracle(docs_sql=_sql_docs())}),
    e_truth AS ({_embedding_cosine_oracle()}),
    e_got AS ({_embedding_lsh_oracle(emb_sql=_sql_vecs())})
    SELECT 'embedding_lsh_vs_exact_cosine' AS family,
           (SELECT COUNT(*) FROM e_got) AS n_method_pairs,
           (SELECT COUNT(*) FROM e_truth) AS n_truth_pairs,
           CAST((SELECT COUNT(*) FROM e_got g JOIN e_truth t
                 ON g.vec_a = t.vec_a AND g.vec_b = t.vec_b) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM e_truth) AS DOUBLE) AS pair_recall
    UNION ALL
    SELECT 'minhash_lsh_vs_exact_jaccard',
           (SELECT COUNT(*) FROM t_got),
           (SELECT COUNT(*) FROM t_truth),
           CAST((SELECT COUNT(*) FROM t_got g JOIN t_truth t
                 ON g.doc_a = t.doc_a AND g.doc_b = t.doc_b) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM t_truth) AS DOUBLE)
    ORDER BY family
    """


@query("dedup_family_recall", oracle=_dedup_recall_oracle())
def dedup_family_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-recall audit of each LSH dedup scale path against its exact
    all-pairs baseline — the dedup twin of sim_ann_recall: recall =
    |method pairs ∩ exact pairs| / |exact pairs|, one row per family.
    Precision is 1.0 BY CONSTRUCTION for both methods (each verifies
    candidates with the exact measure before emitting), so recall is
    the number that moves when banding parameters or hash families
    regress — this pins it to a hash-checked value.

    - minhash_lsh_vs_exact_jaccard: MinHash(64)x16-band candidates +
      exact-Jaccard verify, vs full all-pairs 3-gram Jaccard >= 0.5.
    - embedding_lsh_vs_exact_cosine: 4x4-bit sign-LSH bucket candidates
      + exact-cosine verify, vs all-pairs cosine >= 0.4.

    All four inputs are already-registered, already-hash-verified
    queries; this is counting joins over their outputs (the all-pairs
    truths are quadratic, so like the other exactness baselines this
    audit is a verification query, not a bench headline). In
    sampled-truth sweep mode BOTH families run method-and-truth over
    their hash-prefix samples (docs for the text arm, vecs for the
    embedding arm since r15), identically on both engines."""
    from .dedup_queries import (
        _TRUTH_SAMPLE_K,
        _truth_docs,
        _truth_shingles,
        dedup_embedding_cosine,
        dedup_embedding_lsh,
        dedup_ngram_jaccard,
        shared_minhash_pairs,
        shared_minhash_signatures,
    )
    from ..operators.dedup import minhash_dedup_pairs

    def family(name: str, got: DataFrame, truth: DataFrame, keys: list) -> DataFrame:
        # ONE full-outer pass over the two pair sets (the oracle's
        # shape, r11): the count/semi-join form referenced each member
        # pipeline twice, and Spark re-executes unpersisted subtrees
        # per consumer — for the embedding family that meant running
        # the quadratic all-pairs cosine TRUTH twice per audit. Both
        # listings are key-unique (verified pair sets), so the
        # full-outer join is 1:1 and the conditional counts equal the
        # separate aggregates exactly.
        g = got.select(*keys).withColumn("_in_g", F.lit(True))
        t = truth.select(*keys).withColumn("_in_t", F.lit(True))
        return (
            g.join(t, keys, "full_outer")
            .agg(
                F.count("_in_g").cast("bigint").alias("n_method_pairs"),
                F.count("_in_t").cast("bigint").alias("n_truth_pairs"),
                F.count(F.when(F.col("_in_g") & F.col("_in_t"), 1))
                .cast("bigint")
                .alias("hits"),
            )
            .select(
                F.lit(name).alias("family"),
                "n_method_pairs",
                "n_truth_pairs",
                (
                    F.col("hits").cast("double")
                    / F.col("n_truth_pairs").cast("double")
                ).alias("pair_recall"),
            )
        )

    # sampled-truth sweep mode: the method re-runs the banded-LSH
    # pipeline over the vec sample to match the (sampled) cosine truth
    # — the registered dedup_embedding_lsh stays full-corpus, exactly
    # like the minhash arm below
    from ..operators.dedup import embedding_lsh_near_dup_pairs
    from .dedup_queries import _truth_vecs

    e_got = (
        dedup_embedding_lsh(spark, sf_dir)
        if _TRUTH_SAMPLE_K == 0
        else embedding_lsh_near_dup_pairs(
            _truth_vecs(spark, sf_dir),
            threshold=0.4,
            dim=64,
            bands=4,
            bits_per_band=4,
        )
    )
    emb = family(
        "embedding_lsh_vs_exact_cosine",
        e_got,
        dedup_embedding_cosine(spark, sf_dir),
        ["vec_a", "vec_b"],
    )
    # sampled-truth sweep mode: method and truth both restrict to the
    # hash-prefix doc sample (matching _dedup_recall_oracle); full mode
    # keeps the family-wide verified-pairs persist
    mh_got = (
        shared_minhash_pairs(spark, sf_dir)
        if _TRUTH_SAMPLE_K == 0
        else minhash_dedup_pairs(
            _truth_docs(spark, sf_dir),
            threshold=0.5,
            num_hashes=64,
            bands=16,
            signatures=shared_minhash_signatures(spark, sf_dir, num_hashes=64),
            shingles=_truth_shingles(spark, sf_dir),
        )
    )
    txt = family(
        "minhash_lsh_vs_exact_jaccard",
        mh_got,
        dedup_ngram_jaccard(spark, sf_dir),
        ["doc_a", "doc_b"],
    )
    return emb.unionByName(txt).orderBy("family")


# The audit deliberately runs a COARSER 80/10/10 split than
# corpus_split_assignment's production 98/1/1: with 1% eval slices the
# test corpus produces zero cross-split near-dup pairs and the
# is_leakage arm would never be exercised by the gate; same split
# expression, different thresholds — production passes its own cuts.
_LEAK_TRAIN_CUT = 800
_LEAK_VAL_CUT = 900


def _split_leakage_oracle() -> str:
    from .dedup_queries import _minhash_lsh_oracle

    return f"""
    WITH mh AS MATERIALIZED ({_minhash_lsh_oracle()}),
    s AS ({_sql_split_cte(_LEAK_TRAIN_CUT, _LEAK_VAL_CUT)}),
    p AS (
      SELECT LEAST(sa.split, sb.split) AS split_a,
             GREATEST(sa.split, sb.split) AS split_b,
             m.doc_a, m.doc_b
      FROM mh m
      JOIN s sa ON m.doc_a = sa.doc_id
      JOIN s sb ON m.doc_b = sb.doc_id
    ),
    pair_counts AS (
      SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY 1, 2
    ),
    doc_counts AS (
      SELECT split_a, split_b,
             CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
      FROM (SELECT split_a, split_b, unnest([doc_a, doc_b]) AS doc FROM p)
      GROUP BY 1, 2
    )
    SELECT split_a, split_b, n_pairs, n_docs,
           (split_a != split_b) AS is_leakage
    FROM pair_counts JOIN doc_counts USING (split_a, split_b)
    ORDER BY split_a, split_b
    """


@query("corpus_split_leakage_audit", oracle=_split_leakage_oracle())
def corpus_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test CONTAMINATION audit — the reason dedup and split
    assignment must be designed jointly: a near-dup pair whose members
    land in DIFFERENT splits leaks evaluation data into training (the
    benchmark-contamination failure mode, here measured on the
    corpus's own splits). Joins the verified MinHash near-dup pairs
    (the shared managed cache every graph/dedup query consumes)
    against corpus_split_assignment's deterministic hash-bucket split
    EXPRESSION — at the audit's own coarser 80/10/10 cuts (see
    _LEAK_TRAIN_CUT: 1% eval slices produce zero cross pairs at test
    scale and the leakage arm would go unexercised) — and reports,
    per unordered split pair, the number of crossing near-dup pairs
    and distinct documents involved, with cross-split rows flagged
    is_leakage (8 leaking pairs flagged at sf0.01).

    Scale shape: two id-keyed equi-joins of the pair relation to the
    per-doc split projection (a pure hash60 expression — no shuffle to
    build), one groupBy at (split_a, split_b) grain (≤6 rows), and the
    distinct-doc count via explode of the 2-element id array — pair-
    proportional work end to end; nothing corpus-quadratic beyond the
    already-verified pair pipeline."""
    from .dedup_queries import shared_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    splits = docs.select(
        "doc_id",
        _split_col(_LEAK_TRAIN_CUT, _LEAK_VAL_CUT).alias("split"),
    )
    pairs = shared_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    p = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "doc_a",
            "doc_b",
        )
    )
    pair_counts = p.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    doc_counts = (
        p.select(
            "split_a",
            "split_b",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.countDistinct("doc").cast("bigint").alias("n_docs"))
    )
    return (
        pair_counts.join(doc_counts, ["split_a", "split_b"])
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            "n_docs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .orderBy("split_a", "split_b")
    )

"""Round-12d model-evaluation and design-based-sampling queries.

Three mechanisms the surface still lacked — the EVALUATION side of the
models the engine already trains, plus the sampling design every
eval/calibration subset is drawn with:

- text_domain_prototype_classifier : nearest-prototype (Rocchio-style)
        source classification with a full confusion matrix — each
        source's prototype is its top-K document-frequency terms, each
        doc is assigned to the prototype with the highest exact
        set-Jaccard to its distinct-term set. The engine's first
        CLASSIFIER EVAL artifact (the quality classifier scores docs;
        this one is judged against labels).
- events_markov_eval : top-1 next-event accuracy of the Markov
        transition model on a held-out split — the engine already
        fits transition counts (events_markov_transitions); this
        closes the train→predict→score loop with a deterministic
        80/20 event-id split and per-state accuracy.
- corpus_pps_systematic_sample : probability-proportional-to-size
        systematic (Madow) sampling by token weight — the design-based
        sampler behind every token-weighted eval subset, computed with
        ZERO floats (exact prefix sums, integer-division strata) via
        the two-phase distributed prefix sum.

Numeric discipline (REQUIREMENTS.md): every count is an exact BIGINT;
the only doubles are (a) ONE final accuracy division of identical
integer casts and (b) the classifier's ranking score — a single IEEE
division of exact integers whose ORDER (not value) feeds a
deterministically tie-broken row_number, and which never appears in
the output. The PPS sampler has no float anywhere.

Reference scope: the reference has no model-evaluation surface (its
analytics stop at groupBy aggregates, /root/reference/etl/etl.py:
220-306); this module is part of the LLM-data-pipeline extension
(classifier QA, sequence-model QA, eval-subset sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.curation import pps_systematic_sample
from ..operators.text import token_count_expr
from ..sources.tables import load_table
from .analysis_queries import _shared_tf
from .registry import query
from .text_queries import _SQL_TOKS

# Prototype size: top-K per-source terms by document frequency. Small
# enough that every prototype is a broadcast relation at any corpus
# size, large enough to separate the synthetic sources.
_PROTO_K = 25


@query(
    "text_domain_prototype_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    tf AS (SELECT DISTINCT doc_id, term FROM toks),
    src AS (SELECT doc_id, source FROM documents),
    sdf AS (
      SELECT s.source, t.term, CAST(count(*) AS BIGINT) AS df
      FROM tf t JOIN src s USING (doc_id) GROUP BY 1, 2
    ),
    proto AS (
      SELECT source, term FROM (
        SELECT source, term,
               row_number() OVER (
                 PARTITION BY source ORDER BY df DESC, term) AS rn
        FROM sdf) WHERE rn <= {_PROTO_K}
    ),
    psize AS (
      SELECT source, CAST(count(*) AS BIGINT) AS k_s FROM proto GROUP BY 1
    ),
    nd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms FROM tf GROUP BY 1
    ),
    ov AS (
      SELECT t.doc_id, p.source AS proto_source,
             CAST(count(*) AS BIGINT) AS o
      FROM tf t JOIN proto p USING (term) GROUP BY 1, 2
    ),
    scored AS (
      SELECT ov.doc_id, ov.proto_source,
             CAST(ov.o AS DOUBLE)
               / CAST(nd.n_terms + ps.k_s - ov.o AS DOUBLE) AS jac
      FROM ov
      JOIN nd USING (doc_id)
      JOIN psize ps ON ov.proto_source = ps.source
    ),
    pred AS (
      SELECT doc_id, proto_source FROM (
        SELECT doc_id, proto_source,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY jac DESC, proto_source) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT s.source AS true_source,
           COALESCE(p.proto_source, 'none') AS pred_source,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM src s LEFT JOIN pred p USING (doc_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_domain_prototype_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-prototype DOMAIN CLASSIFIER with confusion-matrix eval:
    each source's prototype is its top-K terms by per-source document
    frequency (ties → term asc, so the prototype is a deterministic
    SET, not a sample); each doc is assigned to the source whose
    prototype maximizes the exact set-Jaccard
    |terms(d) ∩ proto_s| / |terms(d) ∪ proto_s| with source-name
    tie-break; the output is the (true_source, pred_source, n_docs)
    confusion matrix — the resubstitution-accuracy QA artifact of the
    classic Rocchio/nearest-centroid text classifier (documented: the
    doc's own terms contribute to its own source's df, as in any
    resubstitution eval; a held-out variant only changes the df input).

    Determinism: all set sizes are exact BIGINTs; the Jaccard is one
    IEEE division of identical integers on both engines — used ONLY to
    order a deterministically tie-broken row_number and absent from
    the output, so the hash compares nothing but strings and integers.
    Docs sharing no term with any prototype (e.g. blank text) predict
    the explicit 'none' class via the LEFT join.

    Scale shape (100 TB): terms come from the managed term_tf persist
    (one tokenize for the whole term-stats family); per-source df is
    one map-side-combined groupBy; the prototypes are |sources|·K rows
    — broadcast by construction — so the scoring join is a postings
    lookup (doc-term ⋈ broadcast prototype on term), never a
    doc × source grid; doc sizes and overlaps are map-side-combined
    groupBys at doc grain; the argmax window partitions by doc_id
    (bounded by |sources| rows per doc)."""
    tf = _shared_tf(spark, sf_dir).select("doc_id", "term")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sdf = (
        tf.join(src, "doc_id")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    w_proto = Window.partitionBy("source").orderBy(
        F.col("df").desc(), F.col("term")
    )
    # managed persist (r16, guide §2.4): the prototype table is
    # |sources|*K rows (KBs — the stored classifier artifact) but its
    # build runs the tf ⋈ source groupBy + window; it is consumed
    # TWICE per action (the scoring broadcast and psize), so left lazy
    # the build pipeline evaluated twice.
    from .shared_cache import memo_persist

    proto = memo_persist(
        "domain_prototypes",
        spark,
        sf_dir,
        lambda: (
            sdf.withColumn("rn", F.row_number().over(w_proto))
            .filter(F.col("rn") <= _PROTO_K)
            .select("source", "term")
        ),
        params=(_PROTO_K,),
    )
    psize = proto.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_s")
    )
    nd = tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    ov = (
        tf.join(
            F.broadcast(proto.withColumnRenamed("source", "proto_source")),
            "term",
        )
        .groupBy("doc_id", "proto_source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    scored = (
        ov.join(nd, "doc_id")
        .join(
            F.broadcast(psize.withColumnRenamed("source", "proto_source")),
            "proto_source",
        )
        .withColumn(
            "jac",
            F.col("o").cast("double")
            / (F.col("n_terms") + F.col("k_s") - F.col("o")).cast("double"),
        )
    )
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.col("jac").desc(), F.col("proto_source")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("doc_id", "proto_source")
    )
    return (
        src.join(pred, "doc_id", "left")
        .select(
            F.col("source").alias("true_source"),
            F.coalesce(F.col("proto_source"), F.lit("none")).alias(
                "pred_source"
            ),
        )
        .groupBy("true_source", "pred_source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_source", "pred_source")
    )


@query(
    "events_markov_eval",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_eid
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tr AS (SELECT * FROM seq WHERE next_type IS NOT NULL),
    counts AS (
      SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM tr WHERE next_eid % 5 <> 4 GROUP BY 1, 2
    ),
    pred AS (
      SELECT cur_type, next_type AS pred_next FROM (
        SELECT cur_type, next_type,
               row_number() OVER (
                 PARTITION BY cur_type ORDER BY n DESC, next_type) AS rn
        FROM counts) WHERE rn = 1
    )
    SELECT t.cur_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN p.pred_next = t.next_type
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.pred_next = t.next_type
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS accuracy
    FROM (SELECT cur_type, next_type FROM tr WHERE next_eid % 5 = 4) t
    LEFT JOIN pred p USING (cur_type)
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_markov_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 NEXT-EVENT accuracy of the Markov transition model on a
    held-out split — the evaluation side of events_markov_transitions:
    per-user event sequences (ordered by ts with event_id tie-break)
    yield (cur_type → next_type) transitions; transitions whose NEXT
    event has event_id % 5 == 4 are the 20% test split, the rest
    train; the model predicts argmax_next train-count (ties →
    next_type asc); the output is per-state n_test / n_correct /
    accuracy. A test state unseen in training predicts nothing and
    scores 0 on those rows (the LEFT join's NULL never equals), the
    honest convention.

    Determinism: the split is a pure event-id modulus (no RNG), counts
    are exact BIGINTs, the argmax is a deterministically tie-broken
    row_number over integers, and accuracy is ONE double division of
    identical integer casts.

    Scale shape (100 TB): one user_id-partitioned window builds the
    sequences (user grain — bounded tasks); train counts are a
    map-side-combined groupBy at (state, state) grain — tiny; the
    prediction table is |states| rows, broadcast into the test join;
    the final agg is |states| rows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("event_id").over(w).alias("next_eid"),
    ).filter(F.col("next_type").isNotNull())
    counts = (
        seq.filter(F.col("next_eid") % 5 != 4)
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_pred = Window.partitionBy("cur_type").orderBy(
        F.col("n").desc(), F.col("next_type")
    )
    pred = (
        counts.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("cur_type", F.col("next_type").alias("pred_next"))
    )
    test = seq.filter(F.col("next_eid") % 5 == 4).select(
        "cur_type", "next_type"
    )
    hit = F.when(F.col("pred_next") == F.col("next_type"), 1).otherwise(0)
    return (
        test.join(F.broadcast(pred), "cur_type", "left")
        .groupBy("cur_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.col("n_correct").cast("double") / F.col("n_test").cast("double"),
        )
        .orderBy("cur_type")
    )


# Sample size for the PPS systematic draw: the eval-subset scale knob.
_PPS_N = 50


@query(
    "corpus_pps_systematic_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             COALESCE(CAST(len({_SQL_TOKS}) AS BIGINT), 0) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT)
               AS cum_tokens
      FROM w WHERE n_tokens > 0
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM w)
    SELECT doc_id, source, n_tokens, cum_tokens,
           CAST((cum_tokens * {_PPS_N}) // total
                - ((cum_tokens - n_tokens) * {_PPS_N}) // total
                AS BIGINT) AS multiplicity
    FROM c CROSS JOIN tot
    WHERE (cum_tokens * {_PPS_N}) // total
          - ((cum_tokens - n_tokens) * {_PPS_N}) // total >= 1
    ORDER BY doc_id
    """,
)
def corpus_pps_systematic_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-weighted PPS SYSTEMATIC sample of the corpus (Madow):
    pick the document under every (total/n)-th token of the doc_id-
    ordered token stream — inclusion expectation exactly n·w_d/total,
    the design every token-weighted eval/calibration subset wants —
    with ``multiplicity`` counting the strata inside each doc's span
    (Σ multiplicity == n by telescoping, pinned in
    tests/test_eval_queries.py). Distinct mechanism from
    corpus_stratified_sample (per-stratum hash quotas) and
    temperature_sample (mix reshaping): this is the DESIGN-BASED
    weighted draw, and it contains zero floats of any kind.

    Scale shape (100 TB): the operator
    (operators/curation.pps_systematic_sample) computes the global
    prefix sum with the pack_sequences_sharded two-phase discipline —
    bounded per-block windows, a tiny block-totals table, offsets
    broadcast back — and the oracle replays the equivalent ONE-WINDOW
    spec (integer sums decompose associatively, the
    corpus_pack_sharded exactness argument). Stratum indices are
    integer divisions (c·n) div total of exact BIGINTs; range bound
    and the DECIMAL(38,0) swap documented on the operator."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.coalesce(token_count_expr("text"), F.lit(0).cast("bigint")).alias(
            "n_tokens"
        ),
    )
    samp = pps_systematic_sample(docs, n=_PPS_N)
    return samp.select(
        "doc_id", "source", "n_tokens", "cum_tokens", "multiplicity"
    ).orderBy("doc_id")


# ------------------------------------------------------------------ r12e
# Second eval batch: chance-corrected agreement (Cohen's kappa) for the
# language-ID heuristic, exact-integer ROC AUC for the MinHash
# similarity estimator, and a walk-forward forecast backtest (MAE/MASE)
# over the daily revenue series.

from ..operators.dedup import (  # noqa: E402
    BAND_MASK,
    P31,
    minhash_candidate_pairs,
    minhash_params,
)
from .dedup_queries import _hex60, _sql_shingles  # noqa: E402
from .dedup_queries import shared_minhash_signatures  # noqa: E402
from .dedup_queries import _sql_docs, _truth_docs, _truth_shingles  # noqa: E402
from .text_queries import _SQL_NSTOP, _SQL_NTOK  # noqa: E402

_DEC = "decimal(38,0)"

# DuckDB twin of operators.text.predicted_lang_expr (threshold 0.12) —
# the same CASE text_profile's oracle embeds (hash-proven there).
_SQL_PRED_LANG = f"""
    CASE WHEN (CASE WHEN {_SQL_NTOK} > 0
               THEN CAST({_SQL_NSTOP} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE)
               ELSE 0.0 END) >= 0.12
         THEN 'en' ELSE 'other' END
"""


@query(
    "text_langid_kappa",
    oracle=f"""
    WITH cls AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS truth,
             {_SQL_PRED_LANG} AS pred
      FROM documents
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(SUM(CASE WHEN truth = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS r_en,
             CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_en
      FROM cls
    )
    SELECT n AS n_docs, a AS n_agree, r_en AS n_true_en, c_en AS n_pred_en,
           CAST(CAST(n AS HUGEINT) * a
                - (CAST(r_en AS HUGEINT) * c_en
                   + CAST(n - r_en AS HUGEINT) * (n - c_en))
                AS BIGINT) AS kappa_num,
           CAST(CAST(n AS HUGEINT) * n
                - (CAST(r_en AS HUGEINT) * c_en
                   + CAST(n - r_en AS HUGEINT) * (n - c_en))
                AS BIGINT) AS kappa_den,
           CAST(a AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           CAST(CAST(r_en AS HUGEINT) * c_en
                + CAST(n - r_en AS HUGEINT) * (n - c_en) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
           CAST(CAST(n AS HUGEINT) * a
                - (CAST(r_en AS HUGEINT) * c_en
                   + CAST(n - r_en AS HUGEINT) * (n - c_en)) AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * n
                    - (CAST(r_en AS HUGEINT) * c_en
                       + CAST(n - r_en AS HUGEINT) * (n - c_en)) AS DOUBLE)
             AS kappa
    FROM agg
    """,
)
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA — chance-corrected agreement between the stopword
    language-ID heuristic (operators/text.predicted_lang_expr, the same
    expression text_profile hash-verifies per doc) and the ground-truth
    lang column binarized to en/other. Raw accuracy po overstates a
    classifier on imbalanced labels; kappa = (po − pe)/(1 − pe)
    discounts the agreement expected by chance from the marginals — the
    standard annotator/classifier agreement statistic, and a distinct
    mechanism from the confusion matrix (which reports WHERE the
    classifier errs, not whether it beats chance).

    Exactness: with two classes, pe·n² = r_en·c_en + (n−r_en)(n−c_en),
    so kappa = (n·a − Σrc) / (n² − Σrc) is a ratio of EXACT integers —
    computed in DECIMAL(38,0)/HUGEINT products (n² overflows int64 past
    ~3e9 docs), shipped as BIGINT numerator/denominator (lossless at
    any feasible corpus since num/den ≤ n²; documented range bound) and
    ONE final double division. po and pe divide the same exact integers
    by IEEE double products.

    Scale shape (100 TB): one corpus scan fused with the two CASE
    expressions, one 4-cell groupBy (map-side combined), constant
    arithmetic on a 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import predicted_lang_expr

    cls = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("truth"),
        predicted_lang_expr("text").alias("pred"),
    )
    agg = cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("truth") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("truth") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("r_en"),
        F.sum(F.when(F.col("pred") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c_en"),
    )
    rc = F.col("r_en").cast(_DEC) * F.col("c_en").cast(_DEC) + (
        F.col("n") - F.col("r_en")
    ).cast(_DEC) * (F.col("n") - F.col("c_en")).cast(_DEC)
    num = F.col("n").cast(_DEC) * F.col("a").cast(_DEC) - rc
    den = F.col("n").cast(_DEC) * F.col("n").cast(_DEC) - rc
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("n_agree"),
        F.col("r_en").alias("n_true_en"),
        F.col("c_en").alias("n_pred_en"),
        num.cast("bigint").alias("kappa_num"),
        den.cast("bigint").alias("kappa_den"),
        (F.col("a").cast("double") / F.col("n").cast("double")).alias("po"),
        (
            rc.cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        ).alias("pe"),
        (num.cast("double") / den.cast("double")).alias("kappa"),
    )


def _minhash_auc_oracle(
    num_hashes: int = 64, bands: int = 32, docs_sql: str = "documents"
) -> str:
    """DuckDB replay of dedup_minhash_auc: the _minhash_lsh_oracle
    signature/band CTEs (plans/dedup_queries.py) with an AUC tail —
    per-pair signature-agreement score m, exact-Jaccard label at
    t=0.7 via the integer form 10·|∩| ≥ 7·|∪|, then the midrank
    Mann–Whitney AUC aggregated at SCORE grain (m has only
    num_hashes+1 values)."""
    rpb = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN(({a} * hb + {b}) % {P31}) AS h{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def band_select(i: int) -> str:
        expr = f"h{i * rpb}"
        for j in range(1, rpb):
            expr = f"((({expr}) * 31 + h{i * rpb + j}) & {BAND_MASK})"
        return f"SELECT doc_id, {i} AS band_idx, {expr} AS band_hash FROM sig"

    bands_sql = "\n      UNION ALL ".join(band_select(i) for i in range(bands))
    sig_arr = "[" + ", ".join(f"h{i}" for i in range(num_hashes)) + "]"
    return f"""
    WITH sh AS ({_sql_shingles(docs_sql)}),
    tall AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    hb_t AS (SELECT doc_id, {_hex60('shingle')} % {P31} AS hb FROM tall),
    sig AS (SELECT doc_id,
             {mins}
            FROM hb_t GROUP BY doc_id),
    siga AS (SELECT doc_id, {sig_arr} AS s FROM sig),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT CAST(len(list_filter(range(1, {num_hashes + 1}),
                                  i -> sa.s[i] = sb.s[i])) AS BIGINT) AS m,
             (len(list_distinct(list_concat(ha.sh, hb.sh))) > 0
              AND 10 * len(list_intersect(ha.sh, hb.sh))
                  >= 7 * len(list_distinct(list_concat(ha.sh, hb.sh)))) AS pos
      FROM cand
      JOIN siga sa ON sa.doc_id = cand.doc_a
      JOIN siga sb ON sb.doc_id = cand.doc_b
      JOIN sh ha ON ha.doc_id = cand.doc_a
      JOIN sh hb ON hb.doc_id = cand.doc_b
    ),
    per_m AS (
      SELECT m,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT m, n_pos, n_neg,
             COALESCE(CAST(SUM(n_neg) OVER (
               ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cum_neg
      FROM per_m
    ),
    tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
             CAST(SUM(n_neg) AS BIGINT) AS nn,
             SUM(CAST(n_pos AS HUGEINT)
                 * (2 * CAST(cum_neg AS HUGEINT) + CAST(n_neg AS HUGEINT)))
               AS num2
      FROM cum
    )
    SELECT CAST(p + nn AS BIGINT) AS n_candidates, p AS n_pos, nn AS n_neg,
           CAST(num2 AS BIGINT) AS auc_num2,
           CAST(num2 AS DOUBLE)
             / ((CAST(2 AS DOUBLE) * CAST(p AS DOUBLE)) * CAST(nn AS DOUBLE))
             AS auc
    FROM tot
    """


@query("dedup_minhash_auc", oracle=_minhash_auc_oracle(docs_sql=_sql_docs()))
def dedup_minhash_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the MinHash SIMILARITY ESTIMATOR — the ranking-quality
    eval of the dedup pipeline's cheap score: over the LSH candidate
    pairs of the candidate-RICH 32×2 banding (2 rows/band admits
    lower-similarity pairs on purpose — the production 16×4 config is
    so precise on this corpus that every candidate is a true positive
    and there is nothing to rank, measured n_neg=0), score each pair by
    signature agreement m ∈ 0..64 and label it with the EXACT 3-gram
    Jaccard at t=0.7 (the allpairs-join threshold), then compute the
    Mann–Whitney AUC with midrank tie handling: AUC = P(m_pos > m_neg)
    + ½·P(m_pos = m_neg) — how well the O(1)-per-pair estimate ranks
    true near-dups above false candidates (recall audits measure what
    banding FINDS; this measures how well the estimate ORDERS it).

    Measured finding, stated so the 1.0 is not mistaken for a bug: on
    the synthetic corpus the separation is PERFECT at all three SFs
    (auc_num2 == 2·P·N; even a 4-component prefix separates) — the
    generator's near-dups sit far above t while band-collision noise
    sits far below. The query's value is the exact distributed-AUC
    harness itself: pytest pins it against an independent pure-Python
    midrank AUC on a graded-overlap corpus where the ranking is NOT
    trivially perfect.

    Exactness end to end: m is an integer component count; the label
    avoids the Jaccard division entirely (j ≥ 0.7 ⟺ 10·|∩| ≥ 7·|∪| on
    exact set sizes); doubling the midrank identity clears the ½, so
    2·AUC·P·N = Σ_m n_pos(m)·(2·cum_neg(<m) + n_neg(m)) is an exact
    integer (DECIMAL(38,0)/HUGEINT; shipped BIGINT — lossless while
    P·N < 2^62, i.e. ~2e9 candidates per class) and AUC is ONE double
    division by the IEEE product (2·P)·N.

    Scale shape (100 TB): signatures come from the managed
    minhash_sigs persist (shared with the whole banding family);
    candidates are the banding shuffle (never a cross join); scoring
    joins signatures and shingles candidate-proportionally; the AUC
    reduction aggregates at SCORE grain first (≤ 65 rows — a map-side
    combined groupBy), so the cumulative window runs over 65 rows, not
    per-pair ranks (the classic distributed-AUC trick)."""
    # sampled-truth-mode aware on BOTH sides (the dedup-family
    # convention): the shared signature persist is built over
    # _truth_docs, so the oracle must replay the same scope — a
    # full-corpus oracle against sampled signatures hash-mismatches
    # (measured in the r12 sf0.1 replica run)
    docs = _truth_docs(spark, sf_dir)
    sigs = shared_minhash_signatures(spark, sf_dir)
    sh = _truth_shingles(spark, sf_dir)
    cand = minhash_candidate_pairs(docs, bands=32, signatures=sigs)
    sig_a = sigs.select(F.col("doc_id_").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id_").alias("doc_b"), F.col("sig").alias("sig_b"))
    sh_a = sh.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    scored = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            .cast("bigint")
            .alias("m"),
            ((uni > 0) & (inter * 10 >= uni * 7)).alias("pos"),
        )
    )
    per_m = scored.groupBy("m").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_m.withColumn(
        "cum_neg", F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("bigint")
    )
    contrib = F.col("n_pos").cast(_DEC) * (
        F.col("cum_neg").cast(_DEC) * 2 + F.col("n_neg").cast(_DEC)
    )
    tot = cum.agg(
        F.sum("n_pos").cast("bigint").alias("p"),
        F.sum("n_neg").cast("bigint").alias("nn"),
        F.sum(contrib).alias("num2"),
    )
    return tot.select(
        (F.col("p") + F.col("nn")).cast("bigint").alias("n_candidates"),
        F.col("p").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.col("num2").cast("bigint").alias("auc_num2"),
        (
            F.col("num2").cast("double")
            / (
                (F.lit(2.0) * F.col("p").cast("double"))
                * F.col("nn").cast("double")
            )
        ).alias("auc"),
    )


@query(
    "bi_revenue_backtest_mase",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    cal AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM b),
    dense AS (
      SELECT cal.day, coalesce(rev, CAST(0 AS DECIMAL(18,4))) AS v
      FROM cal LEFT JOIN daily USING (day)),
    idx AS (
      SELECT day, v,
             row_number() OVER (ORDER BY day) AS rn,
             SUM(v) OVER (ORDER BY day
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sum7,
             lag(v) OVER (ORDER BY day) AS prev
      FROM dense),
    err AS (
      SELECT abs(7 * v - sum7) AS e7, abs(v - prev) AS e1
      FROM idx WHERE rn > 7)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(e7) AS DOUBLE) AS total_err7,
           CAST(SUM(e1) AS DOUBLE) AS total_err1,
           CAST(SUM(e7) AS DOUBLE)
             / (CAST(7 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS mae_ma7,
           CAST(SUM(e1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mae_naive,
           CAST(SUM(e7) AS DOUBLE)
             / (CAST(7 AS DOUBLE) * CAST(SUM(e1) AS DOUBLE)) AS mase
    FROM err
    """,
)
def bi_revenue_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward FORECAST BACKTEST of the daily revenue series — the
    time-series analogue of the classifier evals: for every day after a
    full 7-day warmup on the gapfilled calendar (the
    bi_daily_revenue_gapfill dense-series spec), forecast with the
    trailing-7-day mean, score MAE, and report MASE = MAE_model /
    MAE_naive against the one-day-persistence baseline (Hyndman &
    Koehler 2006) — MASE < 1 means the model beats naive; an
    unconditioned MAE alone is unitful and uninterpretable.

    Exactness (the sum_money discipline applied to an eval metric):
    revenue stays DECIMAL end to end — per-day sums, the 7-day window
    sum, and the scaled residual |7·v_d − Σv_{d−7..d−1}| are all exact
    decimal arithmetic (scaling by 7 clears the mean's division), the
    residual totals are exact decimal sums (order-free, unlike float
    sums), and the three output ratios are single double divisions of
    identically-cast exact totals.

    Scale shape (100 TB): the fact table collapses to day grain FIRST
    (partial-aggregated groupBy — the only corpus-sized pass); the
    calendar explode, fill join, ordered window, and residual agg all
    run at day-count grain (the gapfill precedent: a single-partition
    window over aggregate-grain rows, with the banded swap documented
    in SCALE.md §Events for series past ~10^7 days)."""
    # the dense decimal series comes from the shared daily_rev persist
    # (trend_queries.dense_daily_revenue) — one orders scan serves the
    # whole daily-series family (review finding, r12i). Imported lazily:
    # a module-level import would run trend_queries' @query decorators
    # mid-module and reshuffle the registration order.
    from .trend_queries import dense_daily_revenue

    dense = dense_daily_revenue(spark, sf_dir)
    w_ord = Window.orderBy("day")
    idx = dense.select(
        "v",
        F.row_number().over(w_ord).alias("rn"),
        F.sum("v").over(w_ord.rowsBetween(-7, -1)).alias("sum7"),
        F.lag("v").over(w_ord).alias("prev"),
    ).filter(F.col("rn") > 7)
    err = idx.select(
        F.abs(F.col("v") * 7 - F.col("sum7")).alias("e7"),
        F.abs(F.col("v") - F.col("prev")).alias("e1"),
    )
    return err.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("e7").alias("_s7"),
        F.sum("e1").alias("_s1"),
    ).select(
        "n_days",
        F.col("_s7").cast("double").alias("total_err7"),
        F.col("_s1").cast("double").alias("total_err1"),
        (
            F.col("_s7").cast("double")
            / (F.lit(7.0) * F.col("n_days").cast("double"))
        ).alias("mae_ma7"),
        (F.col("_s1").cast("double") / F.col("n_days").cast("double")).alias(
            "mae_naive"
        ),
        (
            F.col("_s7").cast("double")
            / (F.lit(7.0) * F.col("_s1").cast("double"))
        ).alias("mase"),
    )



# ------------------------------------------------------------------ r12f
# Third batch: a DETERMINISTIC Count-Min sketch with exact cross-engine
# replay (the sketch family's first hash-verified member — HLL and the
# percentile sketches are tolerance-banded; CMS under pinned universal
# hash functions is exactly reproducible), an operating-characteristic
# threshold sweep for the language-ID heuristic (the hyperparameter-
# selection artifact), and df-capped sparse TF-IDF cosine pairs (the
# sparse-vector similarity primitive the dense embedding family lacks).

# Count-Min geometry: d=4 universal-family rows x w=1024 columns. The
# sketch is 4096 BIGINT cells at ANY corpus size — bounded memory is
# the entire point of CMS (Cormode & Muthukrishnan 2005). Hash rows are
# the shared md5-derived hash60 base under the same (a,b) universal
# family MinHash uses, so DuckDB replays every cell exactly.
# Geometry lives in operators/text.py (CMS_D/CMS_W) — shared with the
# streaming maintenance sink (streaming/sketch.py) so the batch audit
# and the maintained sketch can never diverge.
from ..operators.text import CMS_D as _CMS_D  # noqa: E402
from ..operators.text import CMS_W as _CMS_W  # noqa: E402
from ..operators.text import countmin_cells, countmin_entries  # noqa: E402

_CMS_TOPK = 20


def _cms_oracle() -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT term, tf, {j} AS r,"
        f" (({a} * hb + {b}) % {P31}) % {_CMS_W} AS c FROM termhash"
        for j, (a, b) in enumerate(minhash_params(_CMS_D))
    )
    return f"""
    WITH toks AS (
      SELECT lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    tc AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1),
    termhash AS (SELECT term, tf, {_hex60('term')} % {P31} AS hb FROM tc),
    entries AS ({rows}),
    cell AS (SELECT r, c, CAST(SUM(tf) AS BIGINT) AS n
             FROM entries GROUP BY 1, 2),
    top AS (SELECT term, tf FROM tc ORDER BY tf DESC, term LIMIT {_CMS_TOPK})
    SELECT t.term, t.tf AS exact_tf,
           CAST(MIN(cl.n) AS BIGINT) AS cms_est,
           CAST(MIN(cl.n) - t.tf AS BIGINT) AS overcount
    FROM top t
    JOIN entries e USING (term)
    JOIN cell cl ON cl.r = e.r AND cl.c = e.c
    GROUP BY t.term, t.tf
    ORDER BY exact_tf DESC, term
    """


@query("text_countmin_heavyhitters", oracle=_cms_oracle())
def text_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Count-Min sketch, audited on the exact heavy
    hitters: build a d=4 × w=1024 CMS over the corpus term stream
    (cell(j, h_j(t)) accumulates tf; h_j = the shared universal family
    over the md5-derived hash60 base), then for the top-20 exact terms
    report exact_tf, the CMS point estimate min_j cell(j, h_j(t)), and
    the overcount — which the CMS one-sided guarantee proves is ≥ 0
    ALWAYS and ≤ εN with probability 1−δ (ε = e/w, δ = e^−d). The
    sketch family's first HASH-verified member: with pinned hash
    functions every cell is an exact integer both engines reproduce
    bit-for-bit (HLL/KLL randomize internally and stay banded).

    Scale shape (100 TB): term counts come from the managed term_tf
    persist (ONE tokenize for the whole term-stats family — summing
    its per-doc tf at term grain is arithmetic-identical to a fresh
    corpus count, the analysis_queries precedent; review finding,
    r12f); the sketch build is a 4×-fanout projection into a
    4096-cell groupBy — the sketch is KBs at any corpus size, the
    mergeable-summary property that makes CMS the streaming/partial-agg
    heavy-hitter structure (the streaming sink, streaming/sketch.py,
    shares the countmin_* primitives via operators/text.py); the top-K
    is TakeOrderedAndProject; the audit join touches K·d rows."""
    tc = (
        _shared_tf(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
    )
    entries = countmin_entries(tc)
    cell = countmin_cells(tc)
    top = tc.orderBy(F.col("tf").desc(), "term").limit(_CMS_TOPK)
    return (
        top.join(entries.select("term", "r", "c"), "term")
        .join(cell, ["r", "c"])
        .groupBy("term", "tf")
        .agg(F.min("n").cast("bigint").alias("cms_est"))
        .select(
            "term",
            F.col("tf").alias("exact_tf"),
            "cms_est",
            (F.col("cms_est") - F.col("tf")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("exact_tf").desc(), "term")
    )


# Operating-characteristic sweep grid for the language-ID threshold.
# Literals are embedded with identical repr() in both engines (the BM25
# literal discipline); 0.12 — the production threshold — is on the grid.
_LANGID_GRID = [0.04, 0.08, 0.12, 0.16, 0.2, 0.24, 0.28, 0.32]


@query(
    "text_langid_threshold_sweep",
    oracle=f"""
    WITH ratio AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
             CASE WHEN {_SQL_NTOK} > 0
                  THEN CAST({_SQL_NSTOP} AS DOUBLE)
                       / CAST({_SQL_NTOK} AS DOUBLE)
                  ELSE 0.0 END AS r
      FROM documents
    ),
    sweep AS (
      SELECT CAST(g.t AS DOUBLE) AS threshold,
             CAST(SUM(CASE WHEN r >= g.t AND is_en = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN r >= g.t AND is_en = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN r < g.t AND is_en = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN r < g.t AND is_en = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM ratio
      CROSS JOIN (SELECT CAST(unnest({_LANGID_GRID!r}) AS DOUBLE) AS t) g
      GROUP BY 1
    )
    SELECT threshold, tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_,
           CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
    FROM sweep
    ORDER BY threshold
    """,
)
def text_langid_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATING CHARACTERISTIC of the language-ID heuristic: sweep the
    stopword-ratio threshold over an 8-point grid (the production 0.12
    included) and report the full confusion counts plus precision /
    recall / F1 per operating point — the hyperparameter-selection
    artifact behind every 'where do we set the filter' decision, one
    tier past the kappa query (which scores ONE operating point).

    Exactness: the ratio is the same per-doc IEEE division the
    text_profile oracle hash-proves; grid literals are embedded with
    identical repr() in both engines and CAST to DOUBLE in the oracle
    (bare SQL literals parse as DECIMAL in DuckDB — the BM25 lesson);
    every confusion cell is an exact BIGINT; precision/recall/F1 are
    single divisions of exact integers (F1 via 2TP/(2TP+FP+FN) — one
    division, no nested rounding). Zero-denominator points yield NULL
    on both engines via F.try_divide (no en-predictions at the top
    threshold is honest, not an error) — a bare `/` would throw
    DIVIDE_BY_ZERO under the driver's ANSI-on session.

    Scale shape (100 TB): ONE corpus scan computes the ratio; the
    8-point grid is a broadcast CROSS JOIN (8× row fanout of a 2-column
    projection, not of the corpus); the sweep is a map-side-combined
    8-group aggregate. Column names precision_/recall_ carry the
    trailing underscore because bare 'precision' is a DuckDB keyword."""
    from ..sources.tables import load_fact_wide
    from ..operators.text import stopword_count_expr

    # cluster width BEFORE the regex ratio + 8x fanout (r16, guide
    # §2.2/§2.5): a one-file corpus scans as ONE task, so the regex
    # pass AND the fanned-out confusion aggregation ran serially
    # regardless of core count (measured 1.95 s -> 0.78 s warm at
    # sf0.1; skipped automatically on well-split inputs — see
    # load_fact_wide). Result-identical: every output cell is an exact
    # BIGINT sum (partitioning cannot reorder float math — the
    # divisions happen on the aggregated integers).
    docs = load_fact_wide(spark, sf_dir, "documents", "doc_id")

    n_tok = token_count_expr("text").cast("double")
    n_stop = stopword_count_expr("text").cast("double")
    ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    base = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        ratio.alias("r"),
    )
    grid = spark.createDataFrame(
        [(t,) for t in _LANGID_GRID], ["t"]
    ).select(F.col("t").cast("double").alias("t"))
    sweep = (
        base.crossJoin(F.broadcast(grid))
        .groupBy("t")
        .agg(
            F.sum(F.when((F.col("r") >= F.col("t")) & (F.col("is_en") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("r") >= F.col("t")) & (F.col("is_en") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when((F.col("r") < F.col("t")) & (F.col("is_en") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
            F.sum(F.when((F.col("r") < F.col("t")) & (F.col("is_en") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("tn"),
        )
        .withColumnRenamed("t", "threshold")
    )
    return sweep.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.try_divide(
            F.col("tp").cast("double"), (F.col("tp") + F.col("fp")).cast("double")
        ).alias("precision_"),
        F.try_divide(
            F.col("tp").cast("double"), (F.col("tp") + F.col("fn")).cast("double")
        ).alias("recall_"),
        F.try_divide(
            (F.col("tp") * 2).cast("double"),
            (F.col("tp") * 2 + F.col("fp") + F.col("fn")).cast("double"),
        ).alias("f1"),
    ).orderBy("threshold")


# Sparse-cosine knobs: terms with df above the cap are pruned from the
# vector space (the standard postings-join bound — Σ df² over kept
# terms); pairs below the cosine floor are dropped. The cap is
# CORPUS-PROPORTIONAL — max(floor, n_docs div 10), i.e. 'a term in more
# than ~10% of docs is stop-like' — because a FIXED cap silently empties
# the vector space as the corpus grows (measured: cap=100 at sf0.1
# pruned every shared term and the result went to 0 rows); both engines
# derive the cap from the same count, so it is still hash-exact.
_SPARSE_DF_FLOOR = 100
_SPARSE_COS_MIN = 0.6


@query(
    "text_sparse_cosine_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({_SQL_TOKS})) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    cap AS (
      SELECT GREATEST({_SPARSE_DF_FLOOR},
                      CAST(count(*) AS BIGINT) // 10) AS c
      FROM documents
    ),
    kept AS (
      SELECT term FROM tf CROSS JOIN cap GROUP BY term, cap.c
      HAVING count(*) <= cap.c
    ),
    v AS (SELECT tf.* FROM tf JOIN kept USING (term)),
    norms AS (
      SELECT doc_id,
             CAST(SUM(CAST(tf AS HUGEINT) * tf) AS BIGINT) AS n2
      FROM v GROUP BY 1
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(a.tf AS HUGEINT) * b.tf) AS BIGINT) AS dot
      FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot, na.n2 AS norm2_a, nb.n2 AS norm2_b,
           CAST(dot AS DOUBLE)
             / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
             AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.doc_a
    JOIN norms nb ON nb.doc_id = dots.doc_b
    WHERE CAST(dot AS DOUBLE)
          / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
          >= CAST({_SPARSE_COS_MIN!r} AS DOUBLE)
    ORDER BY doc_a, doc_b
    """,
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE tf-vector cosine near-dup pairs — the sparse-vector
    similarity primitive next to the dense embedding family: documents
    as tf vectors over the df-capped vocabulary (terms with df >
    max(100, n_docs/10) pruned — the classic postings bound:
    pair-generation work is Σ_term df², so the hot stopword tail must
    not expand; the cap scales with the corpus because a fixed cap
    empties the space as n grows, see the knob comment), pairs
    scored cos = Σ tf_a·tf_b / √(Σtf_a² · Σtf_b²) and kept at ≥ 0.6.
    Distinct mechanism from the Jaccard family (set overlap ignores
    term FREQUENCY; cosine weights it) and from embedding cosine
    (learned dense vs exact sparse lexical).

    Exactness: dot and both squared norms are exact integers
    (HUGEINT/DECIMAL(38,0) products, BIGINT shipped); the cosine is
    computed as ONE double division by sqrt of the double product of
    the two exact norms — IEEE sqrt is correctly rounded, so both
    engines produce the identical double (the temperature_sample sqrt
    precedent); the threshold literal is repr()-embedded and CAST to
    DOUBLE.

    Scale shape (100 TB): tf comes from the managed term_tf persist;
    the df cap bounds every posting list before the self-join (the
    pair shuffle is Σ df² over KEPT terms only); norms are a doc-grain
    map-side-combined aggregate over the capped vectors (definition:
    cosine IN THE CAPPED SPACE — self-consistent, documented); the
    dot groupBy aggregates pair-proportionally."""
    tf = _shared_tf(spark, sf_dir).select("doc_id", "term", "tf")

    def _kept() -> DataFrame:
        cap = load_table(spark, sf_dir, "documents").agg(
            F.greatest(
                F.lit(_SPARSE_DF_FLOOR).cast("bigint"),
                F.expr("count(1) div 10"),
            ).alias("c")
        )
        return (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(cap))
            .filter(F.col("df") <= F.col("c"))
            .select("term")
        )

    # managed persist (r16): the capped vector relation v is referenced
    # THREE times (norms + both pair-join sides), and left lazy each
    # reference re-ran the df groupBy SHUFFLE and the documents-count
    # scan inside `kept`. Persist the term list (vocabulary-grain — the
    # pruned-postings dictionary a production sparse-ANN system stores);
    # the three v references become broadcast-joins over the tf persist.
    from .shared_cache import memo_persist

    kept = memo_persist(
        "sparse_cosine_kept_terms",
        spark,
        sf_dir,
        _kept,
        params=(_SPARSE_DF_FLOOR,),
    )
    v = tf.join(kept, "term")
    norms = v.groupBy("doc_id").agg(
        F.sum(F.col("tf").cast(_DEC) * F.col("tf").cast(_DEC))
        .cast("bigint")
        .alias("n2")
    )
    a = v.select(
        F.col("term"), F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = v.select(
        F.col("term"), F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("tf_a").cast(_DEC) * F.col("tf_b").cast(_DEC))
            .cast("bigint")
            .alias("dot")
        )
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("norm2_a").cast("double") * F.col("norm2_b").cast("double")
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("norm2_a")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("norm2_b")),
            "doc_b",
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(_SPARSE_COS_MIN))
        .select("doc_a", "doc_b", "dot", "norm2_a", "norm2_b", "cosine")
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------------ r12h
# Uncertainty quantification + higher-order dependence: the Wilson
# score interval on the lang-ID accuracy (binomial uncertainty), a
# split-conformal prediction interval with a coverage audit on the
# trailing-mean forecast (distribution-free uncertainty), and an
# order-2 dependence test on the event sequences (does P(c|a,b) beat
# the order-1 Markov model the engine already fits/evals?).

# Wilson z for a 95% interval — repr()-embedded in both engines (the
# BM25 literal discipline).
_WILSON_Z = 1.96


@query(
    "text_langid_wilson_ci",
    oracle=f"""
    WITH cls AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS truth,
             {_SQL_PRED_LANG} AS pred
      FROM documents
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS BIGINT)
               AS a
      FROM cls
    )
    SELECT n AS n_docs, a AS n_correct,
           CAST(a AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
           ((CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
            + (CAST({_WILSON_Z!r} AS DOUBLE) * CAST({_WILSON_Z!r} AS DOUBLE))
              / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE))
            - CAST({_WILSON_Z!r} AS DOUBLE)
              * sqrt(
                  (CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(1 AS DOUBLE)
                     - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (CAST({_WILSON_Z!r} AS DOUBLE)
                     * CAST({_WILSON_Z!r} AS DOUBLE))
                    / ((CAST(4 AS DOUBLE) * CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE))))
           / (CAST(1 AS DOUBLE)
              + (CAST({_WILSON_Z!r} AS DOUBLE) * CAST({_WILSON_Z!r} AS DOUBLE))
                / CAST(n AS DOUBLE)) AS wilson_low,
           ((CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
            + (CAST({_WILSON_Z!r} AS DOUBLE) * CAST({_WILSON_Z!r} AS DOUBLE))
              / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE))
            + CAST({_WILSON_Z!r} AS DOUBLE)
              * sqrt(
                  (CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(1 AS DOUBLE)
                     - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n AS DOUBLE)
                  + (CAST({_WILSON_Z!r} AS DOUBLE)
                     * CAST({_WILSON_Z!r} AS DOUBLE))
                    / ((CAST(4 AS DOUBLE) * CAST(n AS DOUBLE))
                       * CAST(n AS DOUBLE))))
           / (CAST(1 AS DOUBLE)
              + (CAST({_WILSON_Z!r} AS DOUBLE) * CAST({_WILSON_Z!r} AS DOUBLE))
                / CAST(n AS DOUBLE)) AS wilson_high
    FROM agg
    """,
)
def text_langid_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON SCORE interval (95%) on the language-ID accuracy — the
    binomial uncertainty statement the point accuracy (and kappa)
    lack: Wilson's form stays inside [0,1] and behaves at extreme p̂
    where the naive normal interval fails (Wilson 1927; the interval
    behind every 'is this classifier actually better' call at small
    n). The engine's first interval-estimation artifact.

    Determinism: n and n_correct are exact BIGINTs; the bound is a
    PINNED chain of double +,*,/,sqrt over the two exact integers and
    the repr()-embedded z — written with identical association in both
    engines (every subexpression parenthesized; IEEE sqrt is
    correctly rounded, the temperature_sample precedent), so the
    doubles are bit-identical and hash-verifiable.

    Scale shape (100 TB): one corpus scan fused with the CASE
    expressions, one 1-row aggregate, constant arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text import predicted_lang_expr

    agg = docs.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("truth"),
        predicted_lang_expr("text").alias("pred"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("truth") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
    )
    nd = F.col("n").cast("double")
    p = F.col("a").cast("double") / nd
    z = F.lit(_WILSON_Z)
    z2 = z * z
    center = p + z2 / (F.lit(2.0) * nd)
    rad = z * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2 / ((F.lit(4.0) * nd) * nd)
    )
    denom = F.lit(1.0) + z2 / nd
    return agg.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("n_correct"),
        p.alias("acc"),
        ((center - rad) / denom).alias("wilson_low"),
        ((center + rad) / denom).alias("wilson_high"),
    )


@query(
    "bi_forecast_interval_coverage",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    cal AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                               CAST(hi AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS DATE) AS day
            FROM b),
    dense AS (
      SELECT cal.day, coalesce(rev, CAST(0 AS DECIMAL(18,4))) AS v
      FROM cal LEFT JOIN daily USING (day)),
    idx AS (
      SELECT day, v,
             row_number() OVER (ORDER BY day) AS rn,
             SUM(v) OVER (ORDER BY day
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS sum7
      FROM dense),
    ev AS (
      SELECT day, abs(7 * v - sum7) AS e7,
             row_number() OVER (ORDER BY day) AS ern,
             count(*) OVER () AS m
      FROM idx WHERE rn > 7),
    split AS (
      SELECT *, (ern * 5 <= m * 4) AS is_cal FROM ev),
    ncal AS (SELECT CAST(SUM(CASE WHEN is_cal THEN 1 ELSE 0 END) AS BIGINT)
               AS nc FROM split),
    q AS (
      SELECT e7 AS q7 FROM (
        SELECT e7, row_number() OVER (ORDER BY e7, day) AS qr
        FROM split WHERE is_cal) s CROSS JOIN ncal
      WHERE qr = CAST(ceil(0.9 * (ncal.nc + 1)) AS BIGINT)
    )
    SELECT ncal.nc AS n_calibration,
           CAST(SUM(CASE WHEN NOT is_cal THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           CAST(q.q7 AS DOUBLE) / CAST(7 AS DOUBLE) AS interval_halfwidth,
           CAST(SUM(CASE WHEN NOT is_cal AND e7 <= q.q7
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN NOT is_cal AND e7 <= q.q7
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN NOT is_cal THEN 1 ELSE 0 END) AS DOUBLE)
             AS coverage
    FROM split CROSS JOIN q CROSS JOIN ncal
    GROUP BY ncal.nc, q.q7
    """,
)
def bi_forecast_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL prediction interval for the trailing-7-day-mean
    forecast, with a coverage audit — the distribution-free
    uncertainty companion to bi_revenue_backtest_mase (which scores
    the POINT forecast; this calibrates an interval and then checks it
    honestly): the eval days (full 7-day warmup) split 80/20 by
    calendar order into calibration and test; the interval halfwidth
    is the ceil(0.9·(m+1))-th order statistic of the calibration
    scaled residuals |7·v − Σ7| (the standard conformal quantile — on
    exchangeable data the test coverage concentrates near 90%); the
    audit reports how many test days actually landed inside.

    Exactness: residuals stay exact DECIMAL end to end (the backtest
    discipline); the order statistic is selected by a deterministic
    (e7, day) row_number — no interpolating percentile; the coverage
    comparison e7 ≤ q is an exact decimal compare; the only doubles
    are the reported halfwidth (÷7 once) and the ONE coverage
    division. The 80/20 split is pure integer arithmetic
    (ern·5 ≤ m·4).

    Scale shape (100 TB): identical to the backtest — fact to day
    grain first, everything after at day-count grain; the quantile
    row broadcasts (1 row) into the coverage aggregate."""
    # the dense decimal series comes from the shared daily_rev persist
    # (trend_queries.dense_daily_revenue) — one orders scan serves the
    # whole daily-series family (review finding, r12i). Imported lazily:
    # a module-level import would run trend_queries' @query decorators
    # mid-module and reshuffle the registration order.
    from .trend_queries import dense_daily_revenue

    dense = dense_daily_revenue(spark, sf_dir)
    w_ord = Window.orderBy("day")
    idx = dense.select(
        "day",
        "v",
        F.row_number().over(w_ord).alias("rn"),
        F.sum("v").over(w_ord.rowsBetween(-7, -1)).alias("sum7"),
    ).filter(F.col("rn") > 7)
    ev = idx.select(
        "day",
        F.abs(F.col("v") * 7 - F.col("sum7")).alias("e7"),
        F.row_number().over(w_ord).alias("ern"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    split = ev.withColumn(
        "is_cal", F.col("ern") * 5 <= F.col("m") * 4
    )
    ncal = split.agg(
        F.sum(F.when(F.col("is_cal"), 1).otherwise(0))
        .cast("bigint")
        .alias("nc")
    )
    w_q = Window.orderBy("e7", "day")
    q = (
        split.filter(F.col("is_cal"))
        .withColumn("qr", F.row_number().over(w_q))
        .crossJoin(F.broadcast(ncal))
        .filter(
            F.col("qr")
            == F.ceil(F.lit(0.9) * (F.col("nc") + 1)).cast("bigint")
        )
        .select(F.col("e7").alias("q7"))
    )
    return (
        split.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(ncal))
        .groupBy("nc", "q7")
        .agg(
            F.sum(F.when(~F.col("is_cal"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
            F.sum(
                F.when((~F.col("is_cal")) & (F.col("e7") <= F.col("q7")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            F.col("nc").alias("n_calibration"),
            "n_test",
            (F.col("q7").cast("double") / F.lit(7.0)).alias(
                "interval_halfwidth"
            ),
            "n_covered",
            (
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
    )


_PATH_TOPK = 20


@query(
    "events_path_lift",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS a,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (SELECT a, b, c FROM seq WHERE c IS NOT NULL),
    n3 AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_abc
           FROM tri GROUP BY 1, 2, 3),
    nab AS (SELECT a, b, CAST(SUM(n_abc) AS BIGINT) AS n_ab
            FROM n3 GROUP BY 1, 2),
    nbc AS (SELECT b, c, CAST(SUM(n_abc) AS BIGINT) AS n_bc
            FROM n3 GROUP BY 1, 2),
    nb AS (SELECT b, CAST(SUM(n_abc) AS BIGINT) AS n_b
           FROM n3 GROUP BY 1)
    SELECT t.a, t.b, t.c, t.n_abc,
           CAST(CAST(t.n_abc AS HUGEINT) * nb.n_b AS DOUBLE)
             / CAST(CAST(nab.n_ab AS HUGEINT) * nbc.n_bc AS DOUBLE)
             AS order2_lift
    FROM n3 t
    JOIN nab USING (a, b)
    JOIN nbc USING (b, c)
    JOIN nb USING (b)
    ORDER BY n_abc DESC, a, b, c
    LIMIT {_PATH_TOPK}
    """,
)
def events_path_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-2 DEPENDENCE test on the event sequences: for the top
    consecutive type trigrams (a,b,c), the lift of the observed count
    over its order-1 Markov expectation —
    order2_lift = n_abc·n_b / (n_ab·n_bc), which is P(c|a,b)/P(c|b)
    on the trigram-window counts: 1.0 means the chain the engine
    already fits (events_markov_transitions) and scores
    (events_markov_eval) fully explains the path; a sustained
    departure means order-2 memory exists and the order-1 model is
    the wrong class — the model-adequacy check that belongs next to
    any Markov eval.

    Exactness: all four count relations derive from ONE trigram-window
    pass (prefix/suffix/middle marginals are sums of n_abc — no
    second sequence scan, and the marginals are consistent by
    construction); the lift is one double division of exact HUGEINT/
    DECIMAL(38,0) products; top-K ordering ties break on (a,b,c).

    Scale shape (100 TB): one user-partitioned window builds the
    trigrams (user-grain tasks); everything after aggregates at type-
    tuple grain (map-side combined, vocabulary-bounded); marginals are
    broadcast-sized joins; the answer is TakeOrderedAndProject."""
    from .shared_cache import memo_persist

    def build_n3() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        tri = ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type", 1).over(w).alias("b"),
            F.lead("event_type", 2).over(w).alias("c"),
        ).filter(F.col("c").isNotNull())
        return tri.groupBy("a", "b", "c").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_abc")
        )

    # type-tuple grain (tiny) persisted so the three marginals and the
    # final join read ONE trigram-window pass instead of four corpus
    # scans (review finding, r12i)
    n3 = memo_persist("markov_tri", spark, sf_dir, build_n3)
    nab = n3.groupBy("a", "b").agg(F.sum("n_abc").cast("bigint").alias("n_ab"))
    nbc = n3.groupBy("b", "c").agg(F.sum("n_abc").cast("bigint").alias("n_bc"))
    nb = n3.groupBy("b").agg(F.sum("n_abc").cast("bigint").alias("n_b"))
    lift = (F.col("n_abc").cast(_DEC) * F.col("n_b").cast(_DEC)).cast(
        "double"
    ) / (F.col("n_ab").cast(_DEC) * F.col("n_bc").cast(_DEC)).cast("double")
    return (
        n3.join(F.broadcast(nab), ["a", "b"])
        .join(F.broadcast(nbc), ["b", "c"])
        .join(F.broadcast(nb), "b")
        .select("a", "b", "c", "n_abc", lift.alias("order2_lift"))
        .orderBy(F.col("n_abc").desc(), "a", "b", "c")
        .limit(_PATH_TOPK)
    )

"""Round-8 corpus/event statistics queries (registered after
analysis_queries; the r8d/r8e/r8f additions are graph_triangle_counts,
events_trailing_7d_value, corpus_upsample_epochs and
events_cusum_drift).

Pipeline stages the round-7 surface still lacked, each a distinct
mechanism with an exact DuckDB twin:

- text_bigram_pmi          : adjacent-pair collocation lift (PMI's
                             rational core) — the phrase-mining /
                             tokenizer-vocabulary signal
- graph_kcore_coreness     : k-core decomposition of the near-dup pair
                             graph — iterative fixed-round peel, the
                             density audit that ranks dup families by
                             interconnectedness
- corpus_token_budget_mix  : deterministic data-mixing under a global
                             TOKEN budget with per-source weights —
                             running-sum cutoff, the stage that turns
                             "sampling ratios" into an actual training
                             mix
- events_anomaly_daily     : per-type daily-volume outlier flags via an
                             EXACT integer z^2 test (no float variance)
- events_markov_transitions: per-user event-type transition matrix
                             with exact rational probabilities

Numeric discipline (REQUIREMENTS.md): lift/probability doubles use
only *,/ in an identical association order in both engines (IEEE
correctly-rounded, bit-identical); the outlier test never leaves
integers (Spark decimal(38,0) vs DuckDB HUGEINT — both exact int
arithmetic, both stringify without a fractional part).

Reference scope: the reference's analytics stop at groupBy aggregates
over the retail star (/root/reference/etl/etl.py:220-306); this module
is part of the LLM-data-pipeline extension surface (corpus statistics,
dup-graph analysis, mixture construction, volume monitoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import fixed_point_partial
from ..operators.graph import coreness, triangle_counts
from ..operators.partitioning import to_cluster_width
from ..operators.text import lower_terms, token_count_expr, tokens_expr
from ..sources.tables import load_table
from .dedup_queries import _hex60, _minhash_lsh_oracle, shared_minhash_pairs
from .registry import query
from .shared_cache import memo_persist
from .text_queries import _SQL_TOKS

_PMI_MIN_PAIR = 5
_SQL_LTOKS = f"list_transform({_SQL_TOKS}, x -> lower(x))"


@query(
    "text_bigram_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_LTOKS} AS t FROM documents
    ),
    bg AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
    ),
    cbg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM bg GROUP BY 1, 2
    ),
    uni AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n_term
      FROM (SELECT lower(unnest({_SQL_TOKS})) AS term FROM documents)
      GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_term) AS BIGINT) AS t_tokens FROM uni),
    btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t_pairs FROM cbg)
    SELECT w1, w2, n_pair,
           u1.n_term AS n_w1, u2.n_term AS n_w2,
           ((CAST(n_pair AS DOUBLE) * CAST(t_tokens AS DOUBLE))
              * CAST(t_tokens AS DOUBLE))
             / ((CAST(t_pairs AS DOUBLE) * CAST(u1.n_term AS DOUBLE))
                  * CAST(u2.n_term AS DOUBLE)) AS lift
    FROM cbg
    JOIN uni u1 ON cbg.w1 = u1.term
    JOIN uni u2 ON cbg.w2 = u2.term
    CROSS JOIN tot CROSS JOIN btot
    WHERE n_pair >= {_PMI_MIN_PAIR}
    ORDER BY lift DESC, w1, w2
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token collocation lift — PMI's rational core
    p(xy)/(p(x)p(y)) = (c_xy * T^2) / (B * c_x * c_y) — for every
    bigram seen >= 5 times. The phrase-mining stage of tokenizer /
    vocabulary construction (collocations are merge candidates) and
    the boilerplate detector (templated corpora, like this one, show
    extreme-lift bigrams).

    The score is the log-free PMI argument (same monotone-ranking call
    as text_tfidf_topterms' rational IDF): ln's last ulp is
    libm-dependent, while this chain of IEEE *,/ in a pinned
    association order is bit-identical in Spark and DuckDB.

    Scale shape (the standard distributed collocation plan):
    - bigrams come from an ARRAY-level zip (transform over the
      materialized token array, guarded size>=2 — Spark sequence(1,0)
      is the descending [1,0], not empty!), so pairing is map-side:
      the corpus never shuffles until the groupBy;
    - groupBy(w1,w2) and groupBy(term) both partial-aggregate
      map-side; shuffles carry one row per DISTINCT bigram/term;
    - the n_pair >= 5 filter lands BEFORE the unigram joins, pruning
      the long singleton tail from both shuffle joins;
    - bigram<->unigram joins are shuffle equi-joins on the term key
      (web-scale vocabularies don't broadcast; AQE may still choose
      to);
    - the two 1-row totals ride broadcast crossJoins;
    - the AGGREGATED tables (distinct bigram counts, unigram counts —
      vocabulary-sized, never corpus-sized) each feed multiple
      consumers (counts->filtered set + pair total; unigrams->both
      join sides + token total), so both go through the managed
      memo_persist scope: the corpus is tokenized ONCE per side
      instead of once per consumer (review finding, r8 — same shape
      as bi_market_basket_pairs' shared distinct scan).
    """
    docs = load_table(spark, sf_dir, "documents")

    def build_cbg_all() -> DataFrame:
        toks = to_cluster_width(docs, "doc_id").select(
            F.transform(tokens_expr("text"), lambda x: F.lower(x)).alias("t")
        )
        bg = (
            toks.where(F.size("t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t)-1),"
                        " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                    )
                ).alias("p")
            )
            .select("p.w1", "p.w2")
        )
        return bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))

    cbg_all = memo_persist("bigram_counts", spark, sf_dir, build_cbg_all)
    uni = memo_persist(
        "bigram_uni",
        spark,
        sf_dir,
        lambda: lower_terms(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term")),
    )
    cbg = cbg_all.where(F.col("n_pair") >= _PMI_MIN_PAIR)
    tot = uni.agg(F.sum("n_term").alias("t_tokens"))
    btot = cbg_all.agg(F.sum("n_pair").cast("bigint").alias("t_pairs"))
    u1 = uni.select(F.col("term").alias("w1"), F.col("n_term").alias("n_w1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("n_term").alias("n_w2"))
    d = F.col  # noqa: E731 — keep the lift expression readable
    return (
        cbg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .crossJoin(btot)
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (
                    (d("n_pair").cast("double") * d("t_tokens").cast("double"))
                    * d("t_tokens").cast("double")
                )
                / (
                    (d("t_pairs").cast("double") * d("n_w1").cast("double"))
                    * d("n_w2").cast("double")
                )
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
    )


def _coreness_oracle(k_max: int = 3, rounds: int = 4) -> str:
    """DuckDB replay of operators.graph.coreness: the same FIXED-round
    incremental peel, unrolled level by level / round by round (a
    recursive CTE can't re-aggregate degrees over a shrinking edge set,
    so the loop is generated as chained CTEs — both engines execute the
    identical round count, converged or not). Every CTE is
    MATERIALIZED: DuckDB otherwise INLINES each reference, and round r
    references round r-1 three times, so the unrolled peel would
    expand to 3^(levels*rounds) copies of the whole MinHash pipeline
    (observed as an fd-exhaustion error re-opening the parquet) — the
    SQL mirror of exactly the lineage blow-up localCheckpoint prevents
    on the Spark side."""
    parts = [
        f"WITH mh AS MATERIALIZED ({_minhash_lsh_oracle()}),",
        "e_2_0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM mh"
        " UNION ALL SELECT doc_b AS s, doc_a AS d FROM mh),",
    ]
    levels = ["SELECT DISTINCT s, 1 AS k FROM e_2_0"]
    for k in range(2, k_max + 1):
        if k > 2:
            parts.append(
                f"e_{k}_0 AS MATERIALIZED"
                f" (SELECT * FROM e_{k - 1}_{rounds}),"
            )
        for r in range(rounds):
            parts.append(
                f"n_{k}_{r} AS MATERIALIZED (SELECT s FROM e_{k}_{r}"
                f" GROUP BY s HAVING count(*) >= {k}),"
            )
            parts.append(
                f"e_{k}_{r + 1} AS MATERIALIZED"
                f" (SELECT e.s, e.d FROM e_{k}_{r} e"
                f" JOIN n_{k}_{r} a ON e.s = a.s"
                f" JOIN n_{k}_{r} b ON e.d = b.s),"
            )
        levels.append(f"SELECT DISTINCT s, {k} AS k FROM e_{k}_{rounds}")
    union = " UNION ALL ".join(levels)
    return (
        "\n".join(parts)
        + f"\nlevels AS ({union})\n"
        + "SELECT CAST(s AS BIGINT) AS doc_id,"
        " CAST(MAX(k) AS INT) AS coreness\n"
        "FROM levels GROUP BY s ORDER BY doc_id"
    )


@query("graph_kcore_coreness", oracle=_coreness_oracle())
def graph_kcore_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (coreness per node, capped at 3) of the
    MinHash-LSH verified near-dup graph — the density companion to
    dedup_cluster_components: components say WHICH docs cluster,
    coreness says how tightly (coreness >= 2 requires every member to
    near-dup >= 2 others, which no single false-positive pair can
    fake). Consumes the same shared_minhash_pairs managed cache as the
    CC/cluster queries, so in a run executing the whole dedup family
    the pair pipeline still materializes exactly once.

    Hash-verified end to end: the oracle unrolls the identical
    fixed-round peel over the identical verified pairs (see
    operators/graph.py coreness for the fixed-round-vs-convergence
    contract; fixpoint semantics are pytest-pinned against a
    pure-Python peel on adversarial chain/clique graphs)."""
    return coreness(
        shared_minhash_pairs(spark, sf_dir), src="doc_a", dst="doc_b",
        k_max=3, rounds=4,
    )


def _mix_inputs(spark, sf_dir):
    """Shared inputs of the two mix-construction queries — the
    persisted doc-level table (token counts + hash order), the
    per-source weight table (even-indexed sources upweighted 2:1, a
    digit-free source falling through to weight 1 on BOTH engines),
    the corpus token total, and the weight denominator. One definition
    so the budget and upsample queries can never implement different
    weighted mixes (review finding, r8); the oracle twins keep the
    same rule in their shared SQL fragments."""
    from ..operators.dedup import hash60_expr

    docs = load_table(spark, sf_dir, "documents")
    d = memo_persist(
        "budget_docs",
        spark,
        sf_dir,
        lambda: docs.select(
            "doc_id",
            "source",
            token_count_expr("text").alias("n_tokens"),
            hash60_expr(F.col("doc_id").cast("string")).alias("h"),
        ),
    )
    w = d.select("source").distinct().select(
        "source",
        F.when(
            F.regexp_extract("source", r"(\d+)", 1).cast("bigint") % 2 == 0,
            F.lit(2),
        )
        .otherwise(F.lit(1))
        .alias("wt"),
    )
    tot = d.agg(F.sum("n_tokens").alias("t_tokens"))
    den = w.agg(F.sum("wt").cast("bigint").alias("sum_wt"))
    return d, w, tot, den


@query(
    "corpus_token_budget_mix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             {_hex60("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    w AS (
      SELECT source,
             -- TRY_CAST, not CAST: a digit-free source name must fall
             -- through to the ELSE weight like Spark's null-yielding
             -- cast does, not hard-error the oracle (review finding)
             CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1)
                                AS BIGINT) % 2 = 0
                  THEN 2 ELSE 1 END AS wt
      FROM (SELECT DISTINCT source FROM documents)
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens FROM d),
    den AS (SELECT CAST(SUM(wt) AS BIGINT) AS sum_wt FROM w)
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(budget AS BIGINT) AS budget_tokens
    FROM (
      SELECT d.doc_id, d.source, d.n_tokens,
             SUM(d.n_tokens) OVER (
               PARTITION BY d.source ORDER BY d.h, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens,
             (t_tokens * wt) // (2 * sum_wt) AS budget
      FROM d JOIN w USING (source) CROSS JOIN tot CROSS JOIN den
    )
    WHERE cum_tokens <= budget
    ORDER BY source, cum_tokens, doc_id
    """,
)
def corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix construction under a global TOKEN
    budget: the corpus gets a budget of half its total tokens, split
    across sources proportionally to a per-source weight (even-indexed
    sources upweighted 2:1 — the stand-in for a curated domain-weights
    table), and each source contributes documents in hash60 order
    until its token budget is exhausted. This is the stage that turns
    per-domain sampling RATIOS into an actual mix: unlike
    corpus_stratified_sample (a per-stratum ROW-count cut), the cutoff
    here is a running-sum over token counts, so long documents consume
    budget faster — the semantics LLM data recipes actually specify.

    Exactness: budgets are integer arithmetic ((T * w) div (2 * sum_w)
    — Spark `div` and DuckDB `//` agree on non-negative operands), the
    running sum is a bigint window, and the hash order is the shared
    md5-derived hash60 with doc_id tiebreak — no RNG streams, no
    floats.

    Scale shape: one row per document (token counts are a map-side
    expression over the text column — the corpus body never shuffles);
    the running-sum window shuffles on source; the three scalar
    aggregates (corpus tokens, weight sum) ride broadcast crossJoins.
    Per-source windows serialize within a source — at 100 TB with few
    huge sources, the same plan runs per (source, shard) with
    shard-level sub-budgets, exactly like corpus_pack_sharded's
    two-phase form."""
    d, w, tot, den = _mix_inputs(spark, sf_dir)
    win = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(w, "source")
        .crossJoin(tot)
        .crossJoin(den)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.sum("n_tokens").over(win).alias("cum_tokens"),
            F.expr("(t_tokens * wt) div (2 * sum_wt)").alias("budget_tokens"),
        )
        .where(F.col("cum_tokens") <= F.col("budget_tokens"))
        .orderBy("source", "cum_tokens", "doc_id")
    )


@query(
    "events_anomaly_daily",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(n_events) AS BIGINT) AS sum_events,
             SUM(CAST(n_events AS HUGEINT) * n_events) AS sumsq_events
      FROM d GROUP BY 1
    )
    SELECT event_type, day, n_events, n_days, sum_events,
           CAST(sumsq_events AS BIGINT) AS sumsq_events,
           CAST(CASE WHEN
                  (CAST(n_days AS HUGEINT) * n_events - sum_events)
                    * (CAST(n_days AS HUGEINT) * n_events - sum_events)
                  > 4 * (CAST(n_days AS HUGEINT) * sumsq_events
                           - CAST(sum_events AS HUGEINT) * sum_events)
                THEN 1 ELSE 0 END AS INT) AS is_outlier,
           CAST(CASE
                  WHEN CAST(n_days AS HUGEINT) * n_events
                         > CAST(sum_events AS HUGEINT) THEN 1
                  WHEN CAST(n_days AS HUGEINT) * n_events
                         < CAST(sum_events AS HUGEINT) THEN -1
                  ELSE 0 END AS INT) AS direction
    FROM d JOIN s USING (event_type)
    ORDER BY event_type, day
    """,
)
def events_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly flags per event type — the pipeline
    health monitor (ingest spikes / outages) every production event
    stream runs. A day is an outlier when |count - mean| > 2 sigma
    over that type's daily counts, evaluated EXACTLY in integers:

        (n*x - S)^2  >  4 * (n*SS - S^2)

    (multiply |x - S/n| > 2*sqrt(SS/n - (S/n)^2) through by n^2; both
    sides are integers, so the flag needs no float variance, no sqrt,
    and no cross-engine epsilon — Spark evaluates in decimal(38,0),
    DuckDB in HUGEINT. Exactness envelope: the binding operands are
    (n*x - S)^2 and n*SS, both < 1e38, so n*x < ~1e19 — ~1e15
    events/day at 1e4 days of history. Beyond it Spark's decimal
    overflow yields NULL comparisons (flags silently 0) while DuckDB's
    int128 wraps later, so past-envelope inputs would FAIL the oracle
    hash rather than agree on garbage — see anomaly_flags).

    Output-type discipline: the wide-decimal/HUGEINT arithmetic stays
    INTERNAL; the projected sumsq_events is cast to BIGINT on both
    engines (registry contract: no decimal output columns —
    tests/test_registry_contract.py). int64 envelope for the OUTPUT:
    sumsq = sum of x^2 per type < 9.2e18 holds through ~1e4 days at
    ~3e7 events/day/type; a 100 TB monitor freezes the baseline on a
    reference period, which also caps the moments (SCALE.md).

    Scale shape: the daily collapse is one groupBy (map-side partial),
    per-type moments are a groupBy over the DAY-grain table
    (type-cardinality rows), and the day<->moments join is a broadcast
    of the tiny per-type stats. Nothing after the first aggregate
    touches raw events."""
    return anomaly_flags(daily_counts(load_table(spark, sf_dir, "events")))


def daily_rows(df: DataFrame) -> DataFrame:
    """Each event as one (event_type, day, n_events=1) row — THE
    day-grain definition shared by the batch query above and the
    streaming monitor (streaming/anomaly.py), which folds these rows
    and its stored counts in one sum_daily_counts. Counts are additive,
    so the streamed store merged over any batch split equals the
    one-pass daily_counts exactly, but only while both paths collapse
    days identically — hence one definition, not two."""
    return df.select(
        "event_type", F.to_date("ts").alias("day"), F.lit(1).alias("n_events")
    )


def sum_daily_counts(rows: DataFrame) -> DataFrame:
    """Collapse daily_rows and/or stored day counts to one
    (event_type, day) row each."""
    return rows.groupBy("event_type", "day").agg(
        F.sum("n_events").alias("n_events")
    )


def daily_counts(df: DataFrame) -> DataFrame:
    """Per-(event_type, day) count collapse of raw events."""
    return sum_daily_counts(daily_rows(df))


def _with_daily_moments(daily: DataFrame) -> DataFrame:
    """(event_type, day, n_events) day-grain table joined with its
    per-type moments plus the two shared integer statistics — dev =
    n*x - S (per-day deviation scaled by n) and var_num = n*SS - S^2
    (n^2 times the population variance). THE single definition of the
    monitoring family's baseline (z^2 point test + CUSUM): the r8
    decimal(27,0)-downcast bug showed why the decimal-width discipline
    must live in exactly one place (review finding, r8).

    Decimal discipline: every operand stays at the width Spark's
    multiply rules can cap without losing integer digits BELOW 1e38 —
    in particular sumsq (already decimal(38,0) from the summed
    products) multiplies n_days directly."""
    d = daily
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("sum_events"),
        F.sum(dec(F.col("n_events")) * dec(F.col("n_events")))
        .cast("decimal(38,0)")
        .alias("sumsq_events"),
    )
    return d.join(F.broadcast(s), "event_type").select(
        "event_type",
        "day",
        "n_events",
        "n_days",
        "sum_events",
        "sumsq_events",
        (
            dec(F.col("n_days")) * dec(F.col("n_events"))
            - dec(F.col("sum_events"))
        ).alias("dev"),
        (
            dec(F.col("n_days")) * F.col("sumsq_events")
            - dec(F.col("sum_events")) * dec(F.col("sum_events"))
        ).alias("var_num"),
    )


def anomaly_flags(daily: DataFrame) -> DataFrame:
    """Outlier flags over a (event_type, day, n_events) day-grain table
    — shared by the batch query above and the streaming monitor
    (streaming/anomaly.py), whose maintained count store is this exact
    table: one definition so the integer z^2 test can never drift
    between the two paths; the moments/deviation arithmetic itself is
    the shared _with_daily_moments (one decimal-width discipline for
    the whole monitoring family)."""
    dev = F.col("dev")
    spread = F.lit(4).cast("decimal(19,0)") * F.col("var_num")
    return (
        _with_daily_moments(daily)
        .select(
            "event_type",
            "day",
            "n_events",
            "n_days",
            "sum_events",
            F.col("sumsq_events").cast("bigint").alias("sumsq_events"),
            F.when(dev * dev > spread, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_outlier"),
            F.when(dev > 0, F.lit(1))
            .when(dev < 0, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("direction"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS from_type
      FROM events
    ),
    c AS (
      SELECT from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n_trans
      FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_trans,
           CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
             AS n_from,
           CAST(n_trans AS DOUBLE)
             / CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE)
             AS p_trans
    FROM c
    ORDER BY from_type, to_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type), with exact
    counts and a single-division probability (one IEEE divide of two
    exact bigints — bit-identical across engines). The behavioral-model
    stage behind funnel diagnostics and session simulation; on corpora,
    the same plan shapes n-gram language-model counts.

    Scale shape: ONE shuffle on user_id feeds the lag window (the same
    single-shuffle discipline as events_funnel_conversion's window
    chain); transition pairs then collapse via groupBy(from, to) —
    type-vocabulary^2 rows, trivially small — and the per-from totals
    are a window over that collapsed table (no second pass over raw
    events)."""
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = (
        ev.select(
            F.lag("event_type").over(seq).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n_trans",
        F.sum("n_trans").over(tot).alias("n_from"),
        (
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(tot).cast("double")
        ).alias("p_trans"),
    ).orderBy("from_type", "to_type")


def _triangle_oracle() -> str:
    """DuckDB replay of operators.graph.triangle_counts: identical
    degree computation, (degree, id) row-value orientation, wedge
    self-join, and closure check — MATERIALIZED CTEs for the same
    inline-expansion reason as _coreness_oracle."""
    return f"""
    WITH mh AS MATERIALIZED ({_minhash_lsh_oracle()}),
    e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM mh),
    deg AS MATERIALIZED (
      SELECT id, count(*) AS d FROM (
        SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
      GROUP BY 1
    ),
    o AS MATERIALIZED (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dv
      FROM e JOIN deg da ON e.a = da.id JOIN deg db ON e.b = db.id
    ),
    tri AS MATERIALIZED (
      SELECT w1.u AS x, w1.v AS y, w2.v AS z
      FROM o w1 JOIN o w2
        ON w1.u = w2.u AND (w1.dv, w1.v) < (w2.dv, w2.v)
      WHERE EXISTS (SELECT 1 FROM o c WHERE c.u = w1.v AND c.v = w2.v)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS doc_id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY 1 ORDER BY 1
    """


@query("graph_triangle_counts", oracle=_triangle_oracle())
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH verified near-dup
    graph (operators/graph.py triangle_counts, degree-oriented wedge
    counting) — the mutual-confirmation signal: a doc in a triangle
    near-dups two docs that also near-dup EACH OTHER, so its cluster
    membership never hangs on one possibly-spurious pair. Consumes the
    same shared_minhash_pairs managed cache as the CC/coreness
    queries; hash-verified end to end against the identical
    orientation + wedge + closure replay in DuckDB."""
    return triangle_counts(
        shared_minhash_pairs(spark, sf_dir), src="doc_a", dst="doc_b"
    )


@query(
    "events_trailing_7d_value",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             SUM(CAST(ROUND(value * 1000000.0) AS DECIMAL(28,0))) AS acc
      FROM events GROUP BY 1, 2
    ),
    o AS (
      SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_ord FROM d
    )
    SELECT event_type, day, n_events,
           CAST(SUM(n_events) OVER w AS BIGINT) AS trailing_7d_events,
           CAST(SUM(acc) OVER w AS DOUBLE) / 1000000.0 AS trailing_7d_value
    FROM o
    WINDOW w AS (PARTITION BY event_type ORDER BY day_ord
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, day
    """,
)
def events_trailing_7d_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day event volume and value per event type — the
    rolling KPI every ops dashboard charts. The window is a RANGE
    frame over a DAY ORDINAL (epoch-day integer), not a ROWS frame:
    calendar gaps contribute nothing instead of silently stretching
    the window across missing days — the correctness difference
    between "last 7 rows" and "last 7 days", and the first RANGE-frame
    window in the registry.

    Exactness: daily values accumulate through the fixed-point scaled
    integers (functions/money.py fixed_point_partial) and the trailing
    sum divides ONCE at the end — the mergeable-accumulator algebra,
    here re-merged by the window frame instead of a groupBy, so the
    double is bit-identical across engines.

    Scale shape: events collapse to day grain first (one groupBy,
    map-side partial — the window never sees raw events); the RANGE
    window partitions by event_type and reuses the day-grain table's
    size (|types x days| rows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        fixed_point_partial("value").alias("acc"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("trailing_7d_events"),
        (F.sum("acc").over(w).cast("double") / F.lit(1000000.0)).alias(
            "trailing_7d_value"
        ),
    ).orderBy("event_type", "day")


@query(
    "corpus_upsample_epochs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             {_hex60("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    w AS (
      SELECT source,
             CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1)
                                AS BIGINT) % 2 = 0
                  THEN 2 ELSE 1 END AS wt
      FROM (SELECT DISTINCT source FROM documents)
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens FROM d),
    den AS (SELECT CAST(SUM(wt) AS BIGINT) AS sum_wt FROM w),
    st AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
           FROM d GROUP BY 1),
    sized AS (
      SELECT d.doc_id, d.source, d.n_tokens, d.h,
             (t_tokens * 2 * wt) // sum_wt AS budget,
             -- guarded: src_tokens = 0 (all-empty source) must yield
             -- 0 epochs, not a division error (Spark's div returns
             -- NULL there; both now agree on the empty result)
             CASE WHEN src_tokens > 0
                  THEN ((t_tokens * 2 * wt) // sum_wt + src_tokens - 1)
                         // src_tokens
                  ELSE 0 END AS epochs
      FROM d JOIN w USING (source) JOIN st USING (source)
      CROSS JOIN tot CROSS JOIN den
    ),
    rep AS (
      SELECT doc_id, source, n_tokens, h, budget,
             CAST(e AS BIGINT) AS epoch
      FROM sized, unnest(generate_series(1, epochs)) AS u(e)
    )
    SELECT source, doc_id, epoch, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(budget AS BIGINT) AS budget_tokens
    FROM (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY epoch, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM rep
    )
    WHERE cum_tokens <= budget
    ORDER BY source, cum_tokens, doc_id
    """,
)
def corpus_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch upsampling mix — the companion to
    corpus_token_budget_mix for the OTHER regime: when a source's
    token budget EXCEEDS its size (small high-quality domains in
    public LLM data recipes), the source is repeated for
    ceil(budget/size) epochs and the final partial epoch is cut by the
    same hash-ordered running token sum. Full epochs stream first
    (ORDER BY epoch, hash, doc_id), so every document appears
    floor(budget/size) times and the remainder epoch is a
    deterministic hash-prefix — the exact replication semantics a
    weighted training sampler materializes. Here the corpus-wide
    target is 2x total tokens, split 2:1 across even/odd sources, so
    every source genuinely replicates (epochs 2-3) at any SF.

    All arithmetic is integer (ceil as (b + s - 1) div s; the same
    div/// agreement as the budget query); replication is an
    array-sequence explode — map-side, no join against a numbers
    table; the doc-level table is the SAME memo_persist entry the
    budget query uses, so running both costs one corpus scan."""
    d, w, tot, den = _mix_inputs(spark, sf_dir)
    st = d.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    sized = (
        d.join(w, "source")
        .join(st, "source")
        .crossJoin(tot)
        .crossJoin(den)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "h",
            F.expr("(t_tokens * 2 * wt) div sum_wt").alias("budget"),
            F.expr(
                "CASE WHEN src_tokens > 0 THEN"
                " ((t_tokens * 2 * wt) div sum_wt + src_tokens - 1)"
                " div src_tokens ELSE 0 END"
            ).alias("epochs"),
        )
    )
    # epochs can be 0 (a source whose budget rounds to zero):
    # Spark sequence(1,0) is the DESCENDING [1,0] — the same trap the
    # bigram query guards — so filter before exploding; DuckDB's
    # generate_series(1,0) is empty, and the guard keeps both engines
    # emitting nothing for zero-budget sources (review finding, r8).
    rep = sized.where(F.col("epochs") >= 1).select(
        "doc_id",
        "source",
        "n_tokens",
        "h",
        "budget",
        F.explode(F.expr("sequence(1L, epochs)")).alias("epoch"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("epoch", "h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rep.select(
            "source",
            "doc_id",
            "epoch",
            "n_tokens",
            F.sum("n_tokens").over(win).alias("cum_tokens"),
            F.col("budget").alias("budget_tokens"),
        )
        .where(F.col("cum_tokens") <= F.col("budget_tokens"))
        .orderBy("source", "cum_tokens", "doc_id")
    )


@query(
    "events_cusum_drift",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(n_events) AS BIGINT) AS sum_events,
             SUM(CAST(n_events AS HUGEINT) * n_events) AS sumsq
      FROM d GROUP BY 1
    ),
    j AS (
      SELECT d.event_type, d.day, d.n_events,
             CAST(n_days AS HUGEINT) * d.n_events - sum_events AS dev,
             CAST(n_days AS HUGEINT) * sumsq
               - CAST(sum_events AS HUGEINT) * sum_events AS var_num
      FROM d JOIN s USING (event_type)
    ),
    p AS (
      SELECT *, SUM(dev) OVER w AS pref
      FROM j
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
      SELECT *,
             pref - least(CAST(0 AS HUGEINT), MIN(pref) OVER w) AS cusum_pos,
             greatest(CAST(0 AS HUGEINT), MAX(pref) OVER w) - pref
               AS cusum_neg
      FROM p
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, n_events,
           CAST(cusum_pos AS BIGINT) AS cusum_pos,
           CAST(cusum_neg AS BIGINT) AS cusum_neg,
           CAST(CASE WHEN cusum_pos * cusum_pos > 25 * var_num
                THEN 1 ELSE 0 END AS INT) AS drift_up,
           CAST(CASE WHEN cusum_neg * cusum_neg > 25 * var_num
                THEN 1 ELSE 0 END AS INT) AS drift_down
    FROM c
    ORDER BY event_type, day
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sequential drift detection (Page 1954) on daily event
    volumes — the complement to events_anomaly_daily's point test: a
    single-day z-spike and a sustained small shift are different
    failures, and CUSUM accumulates deviations so a persistent
    half-sigma drift alarms within days while isolated noise decays.

    CUSUM's textbook form is a RECURSION (S_t = max(0, S_{t-1} +
    dev_t)) that no window frame expresses directly; it rewrites
    exactly as prefix arithmetic:

        S+_t = P_t - min(0, min_{j<=t} P_j)        (positive side)
        S-_t = max(0, max_{j<=t} P_j) - P_t        (negative side)

    with P the running deviation sum — two stacked windows over the
    SAME (type, day) partition+order, so the plan is one exchange and
    two Window nodes (property-verified against the recursive form in
    tests). Everything stays integer: dev_t = n*x_t - S (deviations
    scaled by n), and the 5-sigma alarm multiplies through to
    S_t^2 > 25*(n*SS - S^2) — the events_anomaly_daily discipline, so
    alarms are bit-identical across engines with no float variance.

    Output-type discipline: the decimal(38,0)/HUGEINT prefix math
    stays INTERNAL; projected cusum_pos/cusum_neg are cast to BIGINT
    on both engines (registry contract: no decimal output columns).
    int64 envelope for the OUTPUT: |cusum| <= range of prefix sums of
    dev = n*x - S, so at n ~ 1e4 days and x ~ 1e9 events/day the
    prefix magnitude is ~1e17 — comfortably inside int64; the frozen
    reference-period baseline a 100 TB monitor uses caps it further
    (SCALE.md).

    Scale shape: events collapse to day grain first; the windows and
    moment joins all run over |types x days| rows. The whole-history
    baseline (n, S, SS) mirrors the anomaly query; a production
    monitor would freeze the baseline on a reference period — one
    filter on the moments branch, same plan."""
    return cusum_flags(daily_counts(load_table(spark, sf_dir, "events")))


def cusum_flags(daily: DataFrame) -> DataFrame:
    """CUSUM statistics + alarms over a (event_type, day, n_events)
    day-grain table — shared by the batch query above and the
    streaming monitor's store readout (streaming/anomaly.py
    cusum_readout), the same one-definition contract as
    anomaly_flags/daily_counts — and the baseline moments/deviations
    come from the same _with_daily_moments helper as the point test,
    so the two monitors cannot drift apart (review finding, r8)."""
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = _with_daily_moments(daily).select(
        "event_type", "day", "n_events", "dev", "var_num"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("decimal(38,0)")
    p = j.withColumn("pref", F.sum(big(F.col("dev"))).over(w))
    c = p.select(
        "event_type",
        "day",
        "n_events",
        "var_num",
        (F.col("pref") - F.least(zero, F.min("pref").over(w))).alias(
            "cusum_pos"
        ),
        (F.greatest(zero, F.max("pref").over(w)) - F.col("pref")).alias(
            "cusum_neg"
        ),
    )
    lim = F.lit(25).cast("decimal(19,0)") * F.col("var_num")
    return c.select(
        "event_type",
        "day",
        "n_events",
        F.col("cusum_pos").cast("bigint").alias("cusum_pos"),
        F.col("cusum_neg").cast("bigint").alias("cusum_neg"),
        F.when(F.col("cusum_pos") * F.col("cusum_pos") > lim, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("drift_up"),
        F.when(F.col("cusum_neg") * F.col("cusum_neg") > lim, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("drift_down"),
    ).orderBy("event_type", "day")


_PR_ROUNDS = 3
_PR_SCALE = 10**12
_PR_DAMP = 85


def _pagerank_oracle(
    rounds: int = _PR_ROUNDS, scale: int = _PR_SCALE, damp: int = _PR_DAMP
) -> str:
    """DuckDB replay of operators.graph.pagerank_fixed_point: the same
    symmetric edge build over the verified MinHash pairs, the same
    scaled-BIGINT recurrence unrolled round by round (// is BIGINT
    floor division on positives, identical to Spark's div and Python's
    //), every CTE MATERIALIZED (the k-core lesson: DuckDB inlines
    each reference, and round r reads round r-1 through both the
    contribution join and the node table)."""
    parts = [
        f"WITH mh AS MATERIALIZED ({_minhash_lsh_oracle()}),",
        "e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM mh"
        " UNION ALL SELECT doc_b AS s, doc_a AS d FROM mh),",
        "deg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg"
        " FROM e GROUP BY s),",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),",
        f"tele AS (SELECT CAST(({scale} * {100 - damp}) // (100 * n)"
        " AS BIGINT) AS tele FROM nn),",
        f"r0 AS MATERIALIZED (SELECT d.s, CAST({scale} // n.n AS BIGINT)"
        " AS r, d.deg FROM deg d CROSS JOIN nn n),",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"r{k} AS MATERIALIZED ("
            " SELECT d.s,"
            f" CAST(t.tele + (({damp} * COALESCE(i.t, 0)) // 100)"
            " AS BIGINT) AS r, d.deg"
            " FROM deg d CROSS JOIN tele t"
            " LEFT JOIN (SELECT e.d AS s, CAST(SUM(c.r // c.deg) AS BIGINT)"
            f" AS t FROM e JOIN r{k - 1} c ON e.s = c.s GROUP BY e.d) i"
            " USING (s)),"
        )
    return (
        "\n".join(parts).rstrip(",")
        + f"""
    SELECT s AS doc_id, deg AS degree, r AS pr_scaled,
           CAST(r AS DOUBLE) / CAST({scale} AS DOUBLE) AS pr
    FROM r{rounds} ORDER BY doc_id
    """
    )


@query("graph_pagerank_dupgraph", oracle=_pagerank_oracle())
def graph_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-verified near-dup graph
    (operators/graph.py pagerank_fixed_point, 3 rounds, damping
    85/100) — which document is the HUB of each near-dup family, the
    canonical-selection signal that complements components (which
    cluster), coreness (how tight), and triangles (how cliquey).
    Computed in scaled-BIGINT fixed point so every per-round neighbor
    sum is exact and order-free — a float PageRank's distributed sums
    are partition-order-dependent and could not be hash-compared
    across engines (see the operator docstring for the truncation
    envelope). Consumes the same shared_minhash_pairs managed cache as
    the rest of the graph family; the oracle unrolls the identical
    recurrence over the identical verified pairs."""
    from ..operators.graph import pagerank_fixed_point

    return pagerank_fixed_point(
        shared_minhash_pairs(spark, sf_dir),
        src="doc_a",
        dst="doc_b",
        rounds=_PR_ROUNDS,
        scale=_PR_SCALE,
        damping_pct=_PR_DAMP,
    )

"""Round-12c distribution-quality and curation-signal queries.

Three monitoring/curation signals the r12b surface still lacked, each
a distinct mechanism with an exact DuckDB twin:

- events_value_ks_drift : per-type two-sample Kolmogorov–Smirnov
                          statistic of the value distribution (type vs
                          rest of corpus) — the SHAPE-drift monitor
                          that catches what the mean/variance and TV
                          families cannot (TV drift compares discrete
                          term frequencies; KS compares continuous
                          ECDFs)
- bi_copurchase_linkpred: common-neighbor Jaccard link prediction over
                          the support>=2 co-purchase graph — ranks the
                          MISSING part pairs that shared co-purchase
                          neighborhoods imply, the classic
                          recommendation-candidate generator (the
                          near-dup graph is the WRONG substrate for
                          this: LSH-verified similarity is transitively
                          closed into cliques, so every wedge is
                          already an edge and the prediction set is
                          empty by construction — measured empty at
                          all three SFs; the co-purchase graph keeps
                          thousands of open wedges at every SF)
- corpus_ngram_novelty  : per-document novelty fraction — the share of
                          a doc's distinct 3-gram shingles never seen
                          in any EARLIER doc (doc_id order = ingest
                          order), the incremental-dedup signal a
                          crawler uses to down-weight stale batches

Numeric discipline (REQUIREMENTS.md): every statistic is an exact
integer (Spark DECIMAL(38,0)/BIGINT vs DuckDB HUGEINT/BIGINT) until
ONE final division performed in doubles on both engines' identically
rounded casts of the same exact integers; KS's reduction over values
is MAX — order-free, unlike a float sum — so no partition-order
nondeterminism can enter.

Reference scope: the reference's analytics stop at groupBy aggregates
over the retail star (/root/reference/etl/etl.py:220-306); this module
is part of the LLM-data-pipeline extension surface (drift monitoring,
dup-graph completion, ingest novelty scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import shingles_from_tokens
from ..operators.text import tokens_expr
from ..sources.tables import load_table
from .registry import query
from .shared_cache import memo_persist

_DEC = "decimal(38,0)"


@query(
    "events_value_ks_drift",
    oracle="""
    WITH g AS (
      SELECT event_type, value, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    types AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type FROM g GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_type) AS BIGINT) AS big_n FROM types),
    grid AS (
      SELECT t.event_type, v.value, COALESCE(g.n, 0) AS n
      FROM (SELECT DISTINCT value FROM g) v
      CROSS JOIN (SELECT event_type FROM types) t
      LEFT JOIN g USING (event_type, value)
    ),
    cum AS (
      SELECT event_type, value,
             SUM(n) OVER (PARTITION BY event_type ORDER BY value) AS c
      FROM grid
    ),
    call AS (SELECT value, CAST(SUM(c) AS BIGINT) AS c_all FROM cum GROUP BY 1),
    d AS (
      SELECT c.event_type,
             ABS(CAST(c.c AS HUGEINT) * (t.big_n - ty.n_type)
                 - CAST(a.c_all - c.c AS HUGEINT) * ty.n_type) AS dnum
      FROM cum c
      JOIN call a USING (value)
      JOIN types ty USING (event_type)
      CROSS JOIN tot t
    )
    SELECT ty.event_type, ty.n_type,
           CAST(MAX(d.dnum) AS BIGINT) AS ks_num,
           CAST(MAX(d.dnum) AS DOUBLE)
             / CAST(CAST(ty.n_type AS HUGEINT) * (t.big_n - ty.n_type)
                    AS DOUBLE) AS ks_stat
    FROM d
    JOIN types ty USING (event_type)
    CROSS JOIN tot t
    GROUP BY ty.event_type, ty.n_type, t.big_n
    ORDER BY ty.event_type
    """,
)
def events_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type DISTRIBUTION-SHAPE drift: the two-sample
    Kolmogorov–Smirnov statistic D = max_v |F_type(v) − F_rest(v)|
    between each event type's ``value`` ECDF and the rest of the
    corpus — the monitor that fires when a type's value DISTRIBUTION
    changes shape while its mean stays put (the anomaly/CUSUM family
    watches volume and level; TV drift watches discrete term mixes;
    this watches a continuous measure).

    Determinism the exact-integer way (the TV-drift discipline applied
    to an ECDF): at every distinct value the two cumulative counts are
    exact BIGINTs, the step difference is the exact integer
    |c_t·(N−n_t) − (c_all−c_t)·n_t| (DECIMAL(38,0) products), the
    reduction is MAX — order-free, so partition order cannot perturb
    it (a float-ECDF KS would sum nothing, but its per-step division
    would already round) — and the ONE final division by n_t·(N−n_t)
    happens in doubles on both engines' identically-rounded casts.

    Scale shape: events collapse to (type, value) grain first (one
    groupBy, map-side combine — the heavy shuffle); the ECDF grid is
    |types| × |distinct values| with the type list broadcast; the
    cumulative window partitions by event_type (|types| partitions of
    distinct-value grain — the banded two-phase prefix-sum swap for
    value-grain blowups is documented in SCALE.md §KS); the rest-ECDF
    derives from the SAME grid (Σ_t c_t per value — no second scan),
    and the answer is |types| rows."""
    # NOT persisted, by measurement (r16): the (type, value) count
    # table roots four subtrees, but a memo_persist of it measured
    # 1.99 s vs 1.47 s warm standalone — at this value-grain size the
    # cache write+read costs more than re-running the map-side-combined
    # groupBy (the same negative result as the quartile input persists;
    # persist KB-scale OUTPUTS, not value-grain intermediates).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    g = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    types = g.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_type")
    )
    tot = types.agg(F.sum("n_type").cast("bigint").alias("big_n"))
    grid = (
        g.select("value")
        .distinct()
        .crossJoin(F.broadcast(types.select("event_type")))
        .join(g, ["event_type", "value"], "left")
        .na.fill({"n": 0})
    )
    cum = grid.withColumn(
        "c", F.sum("n").over(Window.partitionBy("event_type").orderBy("value"))
    )
    call = cum.groupBy("value").agg(F.sum("c").cast("bigint").alias("c_all"))
    d = (
        cum.join(call, "value")
        .join(F.broadcast(types), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_type",
            "big_n",
            F.abs(
                F.col("c").cast(_DEC)
                * (F.col("big_n") - F.col("n_type")).cast(_DEC)
                - (F.col("c_all") - F.col("c")).cast(_DEC)
                * F.col("n_type").cast(_DEC)
            ).alias("dnum"),
        )
    )
    return (
        d.groupBy("event_type", "n_type", "big_n")
        .agg(F.max("dnum").alias("ks_num"))
        .select(
            "event_type",
            "n_type",
            # output cast: the driver-safe leaf-type contract bans
            # decimal outputs (the r9 hash-red lesson), so the exact
            # numerator ships as BIGINT — lossless while
            # max_v dnum = ks_num <= n_t*(N-n_t) < 2^63, i.e. up to
            # ~3e9 events per side; past that drop the column
            # (ks_stat IS the statistic; its division is computed from
            # the decimal, not the bigint)
            F.col("ks_num").cast("bigint").alias("ks_num"),
            (
                F.col("ks_num").cast("double")
                / (
                    F.col("n_type").cast(_DEC)
                    * (F.col("big_n") - F.col("n_type")).cast(_DEC)
                ).cast("double")
            ).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


_LINKPRED_MIN_SUPPORT = 2

# import-time drift guard (r15 ADVICE item 4): the linkpred oracle and
# the shared copurchase_pairs persist must agree on the support
# constant. Checked HERE so a future drift breaks every import (tests,
# plan builds) loudly, instead of turning the registered query into a
# hard runtime failure mid-run.
from .basket_queries import _MIN_SUPPORT as _BASKET_MIN_SUPPORT  # noqa: E402

if _LINKPRED_MIN_SUPPORT != _BASKET_MIN_SUPPORT:  # pragma: no cover
    raise ImportError(
        "bi_copurchase_linkpred support constant drifted from the shared"
        f" copurchase_pairs persist: {_LINKPRED_MIN_SUPPORT} !="
        f" {_BASKET_MIN_SUPPORT}"
    )


def _linkpred_oracle() -> str:
    """DuckDB replay of bi_copurchase_linkpred over the identical
    support>=2 co-purchase edge relation (the bi_market_basket_pairs
    pair spec)."""
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_LINKPRED_MIN_SUPPORT}
    ),
    adj AS MATERIALIZED (
      SELECT part_a AS id, part_b AS nbr FROM e
      UNION ALL SELECT part_b, part_a FROM e
    ),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    wed AS (
      SELECT l.id AS u, r.id AS v, CAST(count(*) AS BIGINT) AS cn
      FROM adj l JOIN adj r ON l.nbr = r.nbr AND l.id < r.id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT * FROM wed w
      WHERE NOT EXISTS
        (SELECT 1 FROM e WHERE e.part_a = w.u AND e.part_b = w.v)
    )
    SELECT c.u AS part_a, c.v AS part_b, c.cn,
           du.d + dv.d - c.cn AS union_deg,
           CAST(c.cn AS DOUBLE) / CAST(du.d + dv.d - c.cn AS DOUBLE)
             AS jaccard_cn
    FROM cand c
    JOIN deg du ON c.u = du.id
    JOIN deg dv ON c.v = dv.id
    ORDER BY jaccard_cn DESC, part_a, part_b
    """


@query("bi_copurchase_linkpred", oracle=_linkpred_oracle())
def bi_copurchase_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor LINK PREDICTION over the support>=2 co-purchase
    graph: for every NON-co-purchased part pair sharing at least one
    co-purchase neighbor, the neighborhood-Jaccard score
    |N(u)∩N(v)| / |N(u)∪N(v)| — the standard missing-edge ranker
    (Liben-Nowell & Kleinberg 2003), here the recommendation-candidate
    generator one tier past bi_market_basket_pairs: lift ranks pairs
    ALREADY co-bought, this ranks pairs the co-purchase neighborhoods
    predict but the data has not yet witnessed.

    Substrate note (measured, not assumed): the MinHash near-dup graph
    is the WRONG input for this mechanism — verified-similarity
    cliques are transitively closed, so its open-wedge set is EMPTY at
    all three SFs and link prediction there is vacuous. The
    co-purchase graph keeps ~1.4k-16k open wedges across SFs.

    Exactness: cn, d(u), d(v) are exact BIGINT counts;
    |N(u)∪N(v)| = d(u)+d(v)−cn is exact integer arithmetic; the score
    is ONE double division of two identically-rounded integer casts.

    Scale shape: edges come from the managed "copurchase_pairs" persist
    (ONE definition + ONE evaluation of the support>=2 edge relation,
    shared with bi_market_basket_pairs — this plan references it in SIX
    subtrees: both adjacency sides twice each, the anti-join, and the
    degree table, so left lazy the order-keyed self-join re-ran per
    reference); the wedge self-join on the
    shared-neighbor key is the Σd² shuffle every wedge pipeline pays,
    bounded here by the support>=2 edge filter that prunes the
    singleton tail BEFORE any neighborhood expands; degrees join at
    node grain; existing edges drop via one LEFT ANTI join on the
    canonical (part_a<part_b) key."""
    from .basket_queries import shared_copurchase_pairs

    # support-constant agreement with the shared persist is enforced at
    # module import (top of this file) — a drift can no longer surface
    # as a runtime failure of the registered query (r15 ADVICE item 4)
    pairs = shared_copurchase_pairs(spark, sf_dir).select("part_a", "part_b")
    adj = pairs.select(
        F.col("part_a").alias("id"), F.col("part_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("part_b").alias("id"), F.col("part_a").alias("nbr"))
    )
    deg = adj.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    wed = (
        adj.select(F.col("nbr").alias("via"), F.col("id").alias("u"))
        .join(
            adj.select(F.col("nbr").alias("via"), F.col("id").alias("v")),
            "via",
        )
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    cand = wed.join(
        pairs,
        (wed["u"] == pairs["part_a"]) & (wed["v"] == pairs["part_b"]),
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            "cn",
            (F.col("du") + F.col("dv") - F.col("cn")).alias("union_deg"),
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
            ).alias("jaccard_cn"),
        )
        .orderBy(F.desc("jaccard_cn"), "part_a", "part_b")
    )


@query(
    "corpus_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> coalesce(array_to_string(toks[i:i+2], ' '), '')))
               AS sh
      FROM (SELECT doc_id,
                   CASE WHEN text IS NULL OR length(trim(text)) = 0
                        THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(trim(text), '\\s+')
                        END AS toks
            FROM documents)
    ),
    tall AS (SELECT doc_id, unnest(sh) AS g FROM sh),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM tall GROUP BY 1)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_frac
    FROM tall t JOIN first f USING (g)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document INGEST NOVELTY: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id — ingest
    order) is this doc. A crawler's incremental-curation signal: a
    batch whose docs score near 0 is re-crawl of known content and
    gets down-weighted before any pairwise dedup runs — O(corpus)
    instead of O(pairs), which is why production pipelines run it
    FIRST (the Gopher/RefinedWeb-style staging order).

    Exactness: n_shingles and n_novel are exact BIGINT counts over the
    per-doc DISTINCT shingle set (same 3-gram spec as the whole dedup
    family — operators/dedup.py shingles_from_tokens, whose DuckDB
    twin is dedup_queries._sql_shingles); novelty_frac is ONE double
    division of their identically-rounded casts.

    Scale shape: one tokenize → shingle explode (tokens MATERIALIZED
    per the shingles_from_tokens perf contract), consumed by two
    map-side-combined aggregates — per-doc shingle counts, and the
    min-doc first-occurrence at shingle grain. No shingle-grain join
    exists at all (r15 opt, guide §2.3 aggregate-before-shuffle):
    because per-doc shingles are DISTINCT, each shingle is novel in
    EXACTLY ONE document, so n_novel(doc) = |{g : first_doc(g) = doc}|
    — a doc-grain groupBy over the already-aggregated first-occurrence
    relation, identical values to the join-back sum of
    [first_doc == doc_id] per (doc, g) row. Every exchange carries
    aggregated doc-/shingle-grain rows, never the joined explode; the
    final join is doc grain."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tall = docs.select(
        "doc_id", tokens_expr(F.col("text")).alias("_toks")
    ).select(
        "doc_id", F.explode(shingles_from_tokens(F.col("_toks"), 3)).alias("g")
    )
    per_doc = tall.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel_per_doc = (
        tall.groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return (
        per_doc.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )

"""Driver-checkable similarity-search queries (north-star extension):
brute-force cosine top-k (exact baseline) plus the LSH-bucketed and IVF
approximate variants — ALL with full DuckDB oracles.

The approximate variants are deterministic pipelines (fixed-seed
hyperplanes; first-N-by-id codebook), so the oracle replays them
exactly: hyperplanes are embedded as literal DOUBLE[] arrays, the IVF
codebook is derived in a CTE, and DuckDB's list_dot_product /
list_cosine_similarity folds match Spark's zip_with+aggregate folds
bit-for-bit (established by the round-1 brute-force oracle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    brute_force_topk,
    hyperplanes,
    ivf_assignments,
    ivf_topk,
    ivfpq_corpus_codes,
    ivfpq_topk,
    kmedians_codebooks,
    lsh_topk,
)
from ..sources.tables import load_table
from .shared_cache import memo_artifact, memo_persist
from .registry import query

_N_QUERIES = 5
_K = 10
_DIM = 64
_N_PLANES = 8
_N_CENTROIDS = 16


def shared_parallel_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding corpus at CLUSTER WIDTH as a managed persist — the
    one relation every fitted-artifact build in this family re-reads:
    the Lloyd training rounds (each round re-evaluates its training
    relation) and every codebook variant's corpus assignment pass each
    re-ran the parquet scan + the explicit repartition when left lazy
    (measured: ~25 s of cold fit across sim_ann_recall +
    sim_ann_recall_tuning, r15 VERDICT item 2). Same rows, same
    partitioning op as the inline _parallelize — plans downstream are
    unchanged, so oracle hashes cannot move."""
    from ..operators.partitioning import to_cluster_width

    return memo_persist(
        "emb_parallel",
        spark,
        sf_dir,
        lambda: to_cluster_width(
            load_table(spark, sf_dir, "embeddings"), "vec_id"
        ),
    )


# every k-medians training-fraction variant the registry fits (the
# recall-tuning ladder's mod-4 sample and mod-1 full-corpus configs);
# a cold fit of one variant fits BOTH in lockstep — same job count as
# fitting one, since the per-round median aggregations union into a
# single collect (kmedians_codebooks)
_KMED_TRAIN_MODS = (4, 1)


def _corpus_codebook(
    spark: SparkSession, sf_dir: str, refine_iters: int = 0, train_mod: int = 4
) -> list[list[float]]:
    """The corpus's IVF codebook, a fitted artifact trained ONCE per
    (corpus, hyperparams) and reused by every query batch — the
    production IVF posture (FAISS persists the trained index;
    re-training per query would rescan the corpus). One memo_artifact
    family per refinement level; entries are n_centroids x dim floats
    (KBs). Training is deterministic, so a memo hit is bit-identical to
    a retrain — the DuckDB oracle replay is unaffected."""
    if refine_iters == 0:
        return memo_artifact(
            "codebook_i0",
            spark,
            sf_dir,
            lambda: ivf_assignments(load_table(spark, sf_dir, "embeddings"), _N_CENTROIDS)[1],
            params=(_N_CENTROIDS,),
        )
    # Lloyd rounds train off the persisted parallel corpus —
    # bit-identical codebook (exact per-group percentile is
    # partitioning-independent), no scan/shuffle per round. All
    # registry train_mod variants fit in ONE lockstep pass (r15 VERDICT
    # item 2: "fit all configs from one sample pass"), memoized as one
    # {train_mod: codebook} value; each codebook is bit-identical to
    # its single-config fit (per-(mod,centroid,dim) exact medians over
    # identical multisets — see kmedians_codebooks).
    mods = _KMED_TRAIN_MODS if train_mod in _KMED_TRAIN_MODS else (train_mod,)
    cbs = memo_artifact(
        f"codebook_i{refine_iters}",
        spark,
        sf_dir,
        lambda: kmedians_codebooks(
            load_table(spark, sf_dir, "embeddings"),
            _N_CENTROIDS,
            refine_iters,
            train_mods=mods,
            train_source=shared_parallel_corpus(spark, sf_dir),
        ),
        params=(_N_CENTROIDS, mods),
    )
    return cbs[train_mod]


def _corpus_ivf_lists(
    spark: SparkSession, sf_dir: str, refine_iters: int = 0, train_mod: int = 4
) -> tuple[DataFrame, list[list[float]]]:
    """Fitted IVF inverted lists for the corpus (memo_persist — the
    corpus sharded by centroid_id is the stored layout a production
    IVF serves from) plus the codebook they were built with. One
    persisted entry per (corpus, codebook variant); persist returns
    the identical plan a rebuild would, so oracle hashes cannot
    move.

    r16: the family name carries the full codebook variant
    (refine_iters AND train_mod — the one-slot family previously
    dropped train_mod from the key, a latent wrong-lists trap flagged
    in review once two same-iters variants coexist) so the recall
    audits' four configs can hold their lists simultaneously, and the
    assignment pass reads the shared parallel-corpus persist instead
    of re-scanning + re-repartitioning parquet per variant
    (ivf_corpus_lists == ivf_assignments over the parallelized corpus,
    same rows by construction)."""
    cb = _corpus_codebook(
        spark, sf_dir, refine_iters=refine_iters, train_mod=train_mod
    )
    lists = memo_persist(
        f"ivf_lists_i{refine_iters}_m{train_mod}",
        spark,
        sf_dir,
        lambda: ivf_assignments(
            shared_parallel_corpus(spark, sf_dir),
            _N_CENTROIDS,
            codebook=cb,
        )[0],
        params=(_N_CENTROIDS, refine_iters, train_mod),
    )
    return lists, cb


def _corpus_pq_index(spark: SparkSession, sf_dir: str):
    """Fitted IVF+PQ index for the corpus: the encoded-codes relation
    (memo_persist — it is the ~128x-compressed stored artifact a
    production ANN system serves from; re-encoding the corpus per
    query batch is the anti-pattern) plus the driver-side codebooks.
    Persist returns the identical plan a rebuild would produce, so
    oracle hashes cannot move."""
    cb = _corpus_codebook(spark, sf_dir)

    def build():
        codes, _, _ = ivfpq_corpus_codes(
            load_table(spark, sf_dir, "embeddings"),
            n_centroids=_N_CENTROIDS,
            n_sub=_N_SUB,
            ks=_PQ_KS,
            codebook=cb,
        )
        return codes

    codes = memo_persist(
        "pq_codes",
        spark,
        sf_dir,
        build,
        params=(_N_CENTROIDS, _N_SUB, _PQ_KS),
    )
    # shared slice helper (raises if _PQ_KS ever outgrows the coarse
    # codebook, where ivfpq_corpus_codes switches to trained PQ
    # codebooks and a private slice would silently diverge)
    from ..operators.similarity import pq_codebooks_from_coarse

    cbs = pq_codebooks_from_coarse(cb, _N_SUB, _PQ_KS)
    return codes, cbs, cb


def topk_persisted(
    spark: SparkSession, sf_dir: str, label: str, build
) -> DataFrame:
    """Managed persist of an ANN method's top-k output (~_N_QUERIES×_K
    rows — KBs) keyed by its hyperparameters (r14 VERDICT item 3): the
    method pipelines are each re-evaluated by their registered query
    AND by the recall audits (sim_ann_recall unions five of them;
    sim_ann_recall_tuning four IVF configs), and while the relations
    are tiny the plans are deep — dozens of exchanges of near-empty
    partitions whose fixed per-stage cost dominated the cold-registry
    tail (warm medians 8-9s, BENCH_STANDALONE at r15 HEAD). One
    persisted evaluation per (corpus, hyperparams) serves every
    consumer; persist returns the identical rows a rebuild would, so
    oracle hashes cannot move. Families are PER-LABEL (memo_persist
    keeps one entry per family, and the five methods must coexist)."""
    return memo_persist(f"ann_topk_{label}", spark, sf_dir, build)


def shared_ann_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brute-force top-k truth set (query_id, neighbor_id) as a
    MANAGED persist (memo_persist family "ann_truth") — the
    single-truth-evaluation discipline the dedup family audits use
    (r11 VERDICT item 2): both ANN recall audits (sim_ann_recall,
    sim_ann_recall_tuning) consume the truth set TWICE each (hit join
    + n_truth totals), and Spark recomputes unpersisted subtrees per
    consumer, so without the persist the exact N×queries scoring ran
    2× inside each audit and 4× across a cold composed run. Persist
    returns the identical plan a rebuild would, so oracle hashes
    cannot move."""
    return memo_persist(
        "ann_truth",
        spark,
        sf_dir,
        lambda: sim_bruteforce_topk(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        params=(_N_QUERIES, _K),
    )


def plane_bits_sql(planes: list[list[float]], vec_expr: str) -> str:
    """Shared DuckDB builder for the sign-bit expressions of literal
    hyperplanes — single source of truth for every LSH oracle here and
    in dedup_queries (a drifting copy would silently desynchronize the
    replays)."""
    return ",\n             ".join(
        f"CASE WHEN list_dot_product({vec_expr}, ["
        + ", ".join(repr(x) for x in p)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )


def _lsh_oracle() -> str:
    """DuckDB replay of lsh_topk: same fixed-seed hyperplanes as the
    Spark plan (literal arrays), same sign-bit bucket string, same
    bucket equi-join + exact cosine + dense rank."""
    planes = hyperplanes(_DIM, _N_PLANES, seed=42)
    bits = plane_bits_sql(planes, "CAST(embedding AS DOUBLE[])")
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             concat({bits}) AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, c.v) AS cosine
      FROM base q JOIN base c
        ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INTEGER)
                  AS rank
      FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


def _ivf_oracle(iters: int = 0, nprobe: int = 1, train_mod: int = 4) -> str:
    """DuckDB replay of ivf_topk(refine_iters=iters, nprobe=nprobe),
    one builder for the plain, k-medians-refined, and multi-probe
    variants so the assignment/tie-break/rank SQL can never drift
    between them. Multi-probe: the query side keeps its top-``nprobe``
    centroids (rn <= nprobe, same ordering as argmax) instead of rn=1.

    When iters > 0, refinement mirrors kmedians_codebook's sampled
    training: a ``train`` CTE keeps ``vec_id % train_mod = 0`` rows,
    the init codebook and every Lloyd round read ONLY the sample, and
    the full corpus is assigned once at the end — the same
    scan-the-corpus-once discipline the Spark operator enforces.

    Codebook init = first n training vectors by id (derived in a CTE
    from the SAME corpus, so it tracks the data at any scale factor);
    assignment = argmax cosine with Spark's first-index tie-break
    (ORDER BY cosine DESC, centroid_id ASC); refinement rounds are
    unrolled CTE pairs (assign_i, cb_{i+1}) whose per-dimension medians
    use quantile_cont — bit-identical to Spark ``percentile`` on the
    same double multiset, unlike cross-engine decimal casts of doubles,
    which round differently. Queries are assigned against the corpus
    codebook — the same semantics the round-2 ivf_topk fix enforces."""
    assign_tpl = """
    assign{i} AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY list_cosine_similarity(b.v, c.cvec) DESC,
                                           c.centroid_id) AS rn
        FROM {src} b CROSS JOIN cb{i} c
      ) WHERE rn = 1
    )"""
    cb_tpl = """
    cb{next} AS (
      SELECT c.centroid_id, COALESCE(m.cvec_new, c.cvec) AS cvec
      FROM cb{i} c LEFT JOIN (
        SELECT centroid_id, list(m ORDER BY pos) AS cvec_new FROM (
          SELECT centroid_id, pos, quantile_cont(val, 0.5) AS m
          FROM (SELECT centroid_id, unnest(v) AS val,
                       unnest(generate_series(1, len(v))) AS pos
                FROM assign{i})
          GROUP BY centroid_id, pos
        ) GROUP BY centroid_id
      ) m USING (centroid_id)
    )"""
    init_src = "train" if iters > 0 else "base"
    ctes = []
    for i in range(iters):
        ctes.append(assign_tpl.format(i=i, src="train"))
        ctes.append(cb_tpl.format(i=i, next=i + 1))
    ctes.append(assign_tpl.format(i=iters, src="base"))
    train_cte = (
        f"\n    train AS (SELECT * FROM base WHERE vec_id % {train_mod} = 0),"
        if iters > 0
        else ""
    )
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),{train_cte}
    cb0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS centroid_id,
             v AS cvec
      FROM (SELECT * FROM {init_src} ORDER BY vec_id LIMIT {_N_CENTROIDS})
    ),{",".join(ctes)},
    assignq AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY list_cosine_similarity(b.v, c.cvec) DESC,
                                           c.centroid_id) AS rn
        FROM base b CROSS JOIN cb{iters} c
        WHERE b.vec_id < {_N_QUERIES}
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, c.v) AS cosine
      FROM assignq q JOIN assign{iters} c
        ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INTEGER)
                  AS rank
      FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


def _bruteforce_oracle() -> str:
    """DuckDB twin of brute_force_topk — also the ground-truth CTE of
    the sim_ann_recall audit (plans/extension_queries.py), so it lives
    in a function rather than inline in the decorator."""
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INTEGER)
                  AS rank
      FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


@query("sim_bruteforce_topk", oracle=_bruteforce_oracle())
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-10 cosine neighbors for query vectors
    vec_id < 5. Queries broadcast; one corpus scan; per-query top-k via
    window rank (shuffles only |corpus x queries| score rows, not
    vectors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_persisted(
        spark,
        sf_dir,
        "bruteforce",
        lambda: brute_force_topk(
            emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_K
        ),
    )


@query("sim_ivf_ann_topk", oracle=_ivf_oracle())
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1, 16 sampled centroids): each query scores only
    its centroid's inverted list — the other classic scale path next to
    LSH. Deterministic end to end, so fully hash-verified against the
    DuckDB replay; recall vs brute force additionally asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        lists, cb = _corpus_ivf_lists(spark, sf_dir)
        return ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < _N_QUERIES),
            k=_K,
            n_centroids=_N_CENTROIDS,
            codebook=cb,
            corpus_assigned=lists,
        )

    return topk_persisted(spark, sf_dir, "ivf_i0_p1_m4", build)


@query("sim_ivf_multiprobe_topk", oracle=_ivf_oracle(iters=0, nprobe=3))
def sim_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=3: each query scans its 3 closest inverted
    lists — the standard recall knob (3x the scan of nprobe=1, still
    ~5x less than brute force at 16 centroids). Fully hash-verified
    against the shared IVF oracle builder."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        lists, cb = _corpus_ivf_lists(spark, sf_dir)
        return ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < _N_QUERIES),
            k=_K,
            n_centroids=_N_CENTROIDS,
            nprobe=3,
            codebook=cb,
            corpus_assigned=lists,
        )

    return topk_persisted(spark, sf_dir, "ivf_i0_p3_m4", build)


@query("sim_ivf_kmedians_topk", oracle=_ivf_oracle(iters=2))
def sim_ivf_kmedians_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a k-medians-refined codebook (2 deterministic Lloyd-
    style iterations — operators/similarity.py kmedians_codebook)
    TRAINED ON the vec_id % 4 == 0 sample: each refinement round scans
    only the sample and the full corpus is assigned exactly once, the
    discipline that keeps codebook training off the 100 TB scan path.
    Per-dimension exact medians keep the refinement reproducible at any
    partitioning AND bit-identical across engines (percentile ==
    quantile_cont), so DuckDB replays the entire iterative pipeline —
    sampling predicate included — for a full hash check."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        lists, cb = _corpus_ivf_lists(spark, sf_dir, refine_iters=2)
        return ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < _N_QUERIES),
            k=_K,
            n_centroids=_N_CENTROIDS,
            codebook=cb,
            corpus_assigned=lists,
        )

    return topk_persisted(spark, sf_dir, "ivf_i2_p1_m4", build)


_N_SUB = 4
_PQ_KS = 16
_SUB_DIM = _DIM // _N_SUB


def _ivfpq_oracle() -> str:
    """DuckDB replay of ivfpq_topk: the coarse codebook/assignment CTEs
    are the exact shape of _ivf_oracle (first-16-by-id init, cosine
    argmax with first-index tie-break); the PQ layer derives per-subspace
    centroids with list_slice (1-based begin/end — Spark's slice(start,
    length) maps to [m*sub+1, (m+1)*sub]), encodes via ROW_NUMBER over
    (score, j) — identical to array_position-of-array_min's first-min
    tie-break — and sums the n_sub ADC lookups with explicitly
    left-associated adds, matching Spark's chained ``+``. Every double
    comes from list_dot_product, the proven bit-identical twin of the
    Spark fold."""
    adc_sum = "MAX(CASE WHEN cd.m = 0 THEN qs.score END)"
    for m in range(1, _N_SUB):
        adc_sum = f"({adc_sum} + MAX(CASE WHEN cd.m = {m} THEN qs.score END))"
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS centroid_id,
             v AS cvec
      FROM (SELECT * FROM base ORDER BY vec_id LIMIT {_N_CENTROIDS})
    ),
    coarse AS (
      SELECT vec_id, centroid_id FROM (
        SELECT b.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY list_cosine_similarity(b.v, c.cvec) DESC,
                                           c.centroid_id) AS rn
        FROM base b CROSS JOIN cb0 c
      ) WHERE rn = 1
    ),
    subcb AS (
      SELECT ms.m, c.centroid_id AS j,
             list_slice(c.cvec, ms.m*{_SUB_DIM}+1, (ms.m+1)*{_SUB_DIM}) AS svec
      FROM (SELECT * FROM cb0 WHERE centroid_id < {_PQ_KS}) c
      CROSS JOIN (SELECT unnest(range(0, {_N_SUB})) AS m) ms
    ),
    scores AS (
      SELECT b.vec_id, p.m, p.j,
             list_dot_product(p.svec, p.svec)
               - 2.0*list_dot_product(
                   list_slice(b.v, p.m*{_SUB_DIM}+1, (p.m+1)*{_SUB_DIM}), p.svec)
               AS score
      FROM base b CROSS JOIN subcb p
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY score, j) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {adc_sum} AS adc_dist
      FROM coarse q
      JOIN coarse c ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      JOIN codes cd ON cd.vec_id = c.vec_id
      JOIN scores qs ON qs.vec_id = q.vec_id AND qs.m = cd.m AND qs.j = cd.code
      WHERE q.vec_id < {_N_QUERIES}
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, neighbor_id) AS INTEGER)
                  AS rank
      FROM adc
    ) WHERE rank <= {_K}
    ORDER BY query_id, rank
    """


@query("sim_ivfpq_adc_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with asymmetric distance computation (the FAISS IVFADC
    shape, operators/similarity.py ivfpq_topk): coarse IVF prunes the
    corpus to one inverted list per query, and candidates are ranked by
    n_sub table lookups over product-quantization codes — the corpus
    side of the join carries a ~128x-compressed representation (4 small
    ints vs 64 doubles), which is the memory/IO story that makes ANN
    viable at 100 TB. Deterministic end to end (first-N-by-id codebooks,
    first-index tie-breaks), so the entire two-level quantization
    pipeline is hash-verified against the DuckDB replay; recall vs
    brute force additionally asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        return ivfpq_topk(
            emb,
            emb.filter(F.col("vec_id") < _N_QUERIES),
            k=_K,
            n_centroids=_N_CENTROIDS,
            n_sub=_N_SUB,
            ks=_PQ_KS,
            index=_corpus_pq_index(spark, sf_dir),
        )

    return topk_persisted(spark, sf_dir, "ivfpq_i0", build)


@query("sim_lsh_ann_topk", oracle=_lsh_oracle())
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 8 sign bits -> ~256 buckets; each query
    scores only its bucket (the 100 TB path: equi-join on signature
    instead of cross product). Fixed-seed hyperplanes make it
    deterministic, so fully hash-verified against the DuckDB replay;
    recall vs brute force additionally asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_persisted(
        spark,
        sf_dir,
        "lsh_b8",
        lambda: lsh_topk(
            emb,
            emb.filter(F.col("vec_id") < _N_QUERIES),
            dim=_DIM,
            k=_K,
            n_planes=_N_PLANES,
        ),
    )


_MRL_DIMS = (16, 32)
_MRL_CAND = 50


def _matryoshka_oracle() -> str:
    """DuckDB replay of the MRL ladder: one scored CTE with full and
    prefix cosines (list slices — prefix folds run in the same element
    order on both engines, so the doubles are bit-identical), the same
    four windowed ranks, and the hit aggregation unrolled into the
    4-row ladder. The truth CTE (rank_full <= k) is definitionally the
    brute-force top-k, so full64 recall is 1.0 by construction — the
    ladder's self-check rung."""
    d0, d1 = _MRL_DIMS
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, c.v) AS cos_full,
             list_cosine_similarity(q.v[1:{d0}], c.v[1:{d0}]) AS cos_d{d0},
             list_cosine_similarity(q.v[1:{d1}], c.v[1:{d1}]) AS cos_d{d1}
      FROM base q JOIN base c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    ),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_full DESC, neighbor_id) AS rank_full,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_d{d0} DESC, neighbor_id) AS rank_d{d0},
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_d{d1} DESC, neighbor_id) AS rank_d{d1}
      FROM scored
    ),
    rr AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY CASE WHEN rank_d{d0} <= {_MRL_CAND} THEN 0 ELSE 1 END,
                   cos_full DESC, neighbor_id) AS rank_rr
      FROM ranked
    ),
    joined AS (
      SELECT r.*, (t.query_id IS NOT NULL) AS in_truth
      FROM rr r LEFT JOIN (
        SELECT query_id, neighbor_id FROM ranked WHERE rank_full <= {_K}
      ) t ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN in_truth AND rank_full <= {_K} THEN 1 ELSE 0 END) AS BIGINT) AS h_full,
        CAST(SUM(CASE WHEN in_truth AND rank_d{d0} <= {_K} THEN 1 ELSE 0 END) AS BIGINT) AS h_d{d0},
        CAST(SUM(CASE WHEN in_truth AND rank_d{d1} <= {_K} THEN 1 ELSE 0 END) AS BIGINT) AS h_d{d1},
        CAST(SUM(CASE WHEN in_truth AND rank_d{d0} <= {_MRL_CAND}
                       AND rank_rr <= {_K} THEN 1 ELSE 0 END) AS BIGINT) AS h_rr,
        CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth
      FROM joined
    )
    SELECT method, hits, n_truth,
           CAST(hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall_at_10
    FROM (
      SELECT 'full64' AS method, h_full AS hits, n_truth FROM agg
      UNION ALL SELECT 'trunc{d0:02d}', h_d{d0}, n_truth FROM agg
      UNION ALL SELECT 'trunc{d1:02d}', h_d{d1}, n_truth FROM agg
      UNION ALL SELECT 'trunc{d0:02d}_rerank{_MRL_CAND}', h_rr, n_truth FROM agg
    )
    ORDER BY method
    """


@query("sim_matryoshka_recall", oracle=_matryoshka_oracle())
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) dimension-budget recall ladder — the embedding
    analog of the ANN knob ladders: recall@10 vs the full-dim exact
    top-k when scoring uses only the first 16 / 32 of 64 dims
    (truncated prefix cosine, the MRL property), plus the production
    TWO-STAGE rung — shortlist top-50 by 16-dim cosine, rerank the
    shortlist by full-dim cosine (operators/similarity.py
    matryoshka_ranks). What the ladder pins: direct truncation trades
    recall for a 4x/2x dot-product budget; reranking a 50-candidate
    shortlist recovers most of the loss while bounding full-dim work
    to rerank_from per query — the standard MRL serving pattern
    (Kusupati et al. 2022).

    Scale shape: ONE queries-broadcast pass over the corpus computes
    every cosine (prefix dots are slices of the same row — no per-rung
    rescans), all four ranks are windows over the same query_id
    partitioning (one shuffle for the whole ladder), and the hit
    aggregation is a single pass with conditional sums unpivoted via
    stack — cost is queries x corpus rows, linear in the corpus like
    the registered brute-force baseline it extends. At 100 TB the
    shortlist stage rides the IVF machinery over truncated vectors
    (same codebook discipline); this audit is the recall evidence for
    choosing the dim budget."""
    from ..operators.similarity import matryoshka_ranks

    d0, d1 = _MRL_DIMS
    emb = load_table(spark, sf_dir, "embeddings")
    ranks = matryoshka_ranks(
        emb,
        emb.filter(F.col("vec_id") < _N_QUERIES),
        dims=_MRL_DIMS,
        rerank_from=_MRL_CAND,
    )
    truth = shared_ann_truth(spark, sf_dir).withColumn("_t", F.lit(True))
    j = ranks.join(truth, ["query_id", "neighbor_id"], "left")

    def hits(cond):
        return F.sum(
            F.when(F.col("_t") & cond, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint")

    agg = j.agg(
        hits(F.col("rank_full") <= _K).alias("h_full"),
        hits(F.col(f"rank_d{d0}") <= _K).alias("h_d0"),
        hits(F.col(f"rank_d{d1}") <= _K).alias("h_d1"),
        hits(
            (F.col(f"rank_d{d0}") <= _MRL_CAND) & (F.col("rank_rr") <= _K)
        ).alias("h_rr"),
        F.sum(F.when(F.col("_t"), F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_truth"),
    )
    return (
        agg.select(
            F.expr(
                f"stack(4, 'full64', h_full, 'trunc{d0:02d}', h_d0, "
                f"'trunc{d1:02d}', h_d1, "
                f"'trunc{d0:02d}_rerank{_MRL_CAND}', h_rr) AS (method, hits)"
            ),
            "n_truth",
        )
        .select(
            "method",
            "hits",
            "n_truth",
            (
                F.col("hits").cast("double") / F.col("n_truth").cast("double")
            ).alias("recall_at_10"),
        )
        .orderBy("method")
    )


@query(
    "sim_ivf_cell_balance",
    oracle=f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
    cb0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1
               AS centroid_id,
             v AS cvec
      FROM (SELECT * FROM base ORDER BY vec_id LIMIT {_N_CENTROIDS})
    ),
    assign0 AS (
      SELECT vec_id, centroid_id FROM (
        SELECT b.vec_id, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY list_cosine_similarity(b.v, c.cvec) DESC,
                                           c.centroid_id) AS rn
        FROM base b CROSS JOIN cb0 c
      ) WHERE rn = 1
    ),
    occ AS (
      SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs
      FROM assign0 GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM occ)
    SELECT occ.centroid_id, occ.n_vecs,
           CAST(occ.n_vecs AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
             AS share,
           CAST(occ.n_vecs * tot.n_cells AS DOUBLE)
             / CAST(tot.n_total AS DOUBLE) AS balance_ratio
    FROM occ CROSS JOIN tot
    ORDER BY occ.centroid_id
    """,
)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INVERTED-LIST BALANCE audit: vectors per centroid cell,
    each cell's corpus share, and its balance ratio n_vecs/(N/cells) —
    the probe-cost variance diagnostic for the whole IVF family
    (a 10× hot cell means nprobe=1 queries landing there scan 10× the
    mean list; production indexes re-train or split exactly on this
    signal). The r13 recall ladder showed WHETHER refinement pays;
    this shows WHY, by exposing the partitioning it changes.

    Exactness: per-cell counts are exact; share is one double
    division; balance_ratio is one division of the exact integer
    product n_vecs·n_cells — no float mean in the chain.

    Scale shape (100 TB): consumes the memo-persisted corpus inverted
    lists (_corpus_ivf_lists — the stored index artifact, built once
    per corpus); the audit itself is ONE map-side-combined groupBy to
    centroid grain plus 16-row arithmetic."""
    lists, _ = _corpus_ivf_lists(spark, sf_dir)
    occ = lists.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    tot = occ.agg(
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "centroid_id",
            "n_vecs",
            (
                F.col("n_vecs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
            (
                (F.col("n_vecs") * F.col("n_cells")).cast("double")
                / F.col("n_total").cast("double")
            ).alias("balance_ratio"),
        )
        .orderBy("centroid_id")
    )

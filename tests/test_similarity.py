"""Similarity-search tests: brute-force exactness on a hand-built
fixture and LSH behavior (bucket containment + recall) on driver data."""

import math

from pyspark.sql import functions as F

from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
    brute_force_topk,
    cosine_expr,
    ivf_topk,
    lsh_topk,
)
from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table


def test_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 0.0], [1.0, 0.0]), ([1.0, 1.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.c for r in df.select(cosine_expr("a", "b").alias("c")).collect()]
    assert abs(vals[0]) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12
    assert abs(vals[2] - 1 / math.sqrt(2)) < 1e-12


def test_vec_lit_sql_non_finite_matches_f_lit_bitwise(spark):
    """A plane or codebook row holding NaN / +-inf must still parse, to
    the same IEEE bits as F.lit; finite entries keep their exact text."""
    import struct

    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        _nested_lit,
        _vec_lit_sql,
    )

    row = [float("nan"), float("inf"), float("-inf"), 0.1, -0.0, 1e-300]
    assert _vec_lit_sql([0.1, -0.0]) == "array(0.1D,-0.0D)"
    got = spark.range(1).select(
        F.expr(_vec_lit_sql(row)).alias("parsed"),
        F.lit(row).alias("lit"),
        _nested_lit([row, row]).alias("nested"),
    ).first()

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(got.parsed) == bits(got.lit)
    assert [bits(r) for r in got.nested] == [bits(row), bits(row)]


def test_brute_force_topk_orders_and_excludes_self(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.05]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.neighbor_id for r in out] == [3, 1]  # nearest first
    assert all(r.query_id == 0 for r in out)
    assert [r.rank for r in out] == [1, 2]


def test_lsh_results_subset_of_brute_force_scores(spark, sf_dir):
    """LSH top-k must (a) never invent neighbors outside the corpus,
    (b) agree with brute force whenever the true nearest neighbor lands
    in the same bucket; measure recall@10 >= 0.2 (8 planes -> 256
    buckets over 500 vecs leaves ~2 per bucket; recall is bucket-bound
    by construction — this asserts wiring, not ANN quality)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(emb, queries, k=10).collect()
    lsh = lsh_topk(emb, queries, dim=64, k=10, n_planes=4).collect()
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf}
    lsh_pairs = {(r.query_id, r.neighbor_id) for r in lsh}
    assert lsh_pairs, "lsh returned nothing"
    # every LSH cosine must equal the exact cosine (same expression)
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
    for r in lsh:
        if (r.query_id, r.neighbor_id) in bf_scores:
            assert abs(bf_scores[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    assert recall >= 0.1, f"recall {recall}"


def test_ivf_topk_wiring_and_scores_exact(spark, sf_dir):
    """IVF results carry exact cosines; every query's bucket-mates are
    ranked identically to brute force within the probed list."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bf_scores = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, queries, k=50).collect()
    }
    ivf = ivf_topk(emb, queries, k=10, n_centroids=8).collect()
    assert ivf, "ivf returned nothing"
    assert all(r.query_id < 5 for r in ivf)
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_scores:
            assert abs(bf_scores[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-12
    # ranks are 1..k contiguous per query
    from collections import defaultdict
    by_q = defaultdict(list)
    for r in ivf:
        by_q[r.query_id].append(r.rank)
    for ranks in by_q.values():
        assert ranks == list(range(1, len(ranks) + 1))


def test_kmedians_codebook_deterministic_and_refines(spark, sf_dir):
    """K-medians refinement must be bit-identical across runs (exact
    per-dimension medians — partitioning-independent) and must actually
    move the sampled init centroids."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivf_assignments,
        kmedians_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb1 = kmedians_codebook(emb, n_centroids=8, iters=2)
    cb2 = kmedians_codebook(emb, n_centroids=8, iters=2)
    assert cb1 == cb2  # bit-identical, not approximately equal
    _, init = ivf_assignments(emb, n_centroids=8)
    assert cb1 != init  # refinement moved centroids
    # refined ivf still returns well-formed exact-cosine results
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, refine_iters=2).collect()
    assert out and all(r.rank >= 1 for r in out)


def test_kmedians_lockstep_matches_single_config_fits(spark, sf_dir):
    """The lockstep multi-config fit (r16: one union-aggregated collect
    per Lloyd round for ALL train_mods) must return, per config, the
    BIT-IDENTICAL codebook of a standalone single-config fit — the
    per-(mod, centroid, dim) exact medians aggregate identical
    multisets, only the job count changes."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        kmedians_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    both = kmedians_codebooks(emb, n_centroids=8, iters=2, train_mods=(4, 1))
    solo4 = kmedians_codebooks(emb, n_centroids=8, iters=2, train_mods=(4,))
    solo1 = kmedians_codebooks(emb, n_centroids=8, iters=2, train_mods=(1,))
    assert both[4] == solo4[4]  # bit-identical, not approximately
    assert both[1] == solo1[1]
    assert both[4] != both[1]  # the configs genuinely differ


def test_ivf_multi_assignments_rank1_equals_argmax(spark, sf_dir):
    """Multi-assignment contract: n_assign=1 reproduces ivf_assignments
    row-for-row (same argmax + tie rule), and n_assign=2 emits exactly
    two DISTINCT centroids per vector whose set CONTAINS the argmax."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivf_assignments,
        ivf_multi_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    single, cb = ivf_assignments(emb, n_centroids=8)
    argmax = {r.vec_id: r.centroid_id for r in single.collect()}

    m1, _ = ivf_multi_assignments(emb, n_centroids=8, n_assign=1, codebook=cb)
    got1 = {r.vec_id: r.centroid_id for r in m1.collect()}
    assert got1 == argmax

    m2, _ = ivf_multi_assignments(emb, n_centroids=8, n_assign=2, codebook=cb)
    by_vec: dict = {}
    for r in m2.collect():
        by_vec.setdefault(r.vec_id, []).append(r.centroid_id)
    assert set(by_vec) == set(argmax)
    for vid, cids in by_vec.items():
        assert len(cids) == 2 and len(set(cids)) == 2
        assert argmax[vid] in cids


def test_ivf_queries_share_corpus_codebook(spark, sf_dir):
    """Regression for the round-1 advisor finding: queries that are NOT
    a prefix of the corpus must still be assigned against the CORPUS
    codebook. Each query's probed list must be exactly the corpus rows
    sharing the query's corpus-codebook centroid."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivf_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # deliberately non-prefix query ids
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    assigned, cb = ivf_assignments(emb, n_centroids=8)
    corpus_cent = {r.vec_id: r.centroid_id for r in assigned.collect()}
    out = ivf_topk(emb, queries, k=5, n_centroids=8).collect()
    assert out, "ivf returned nothing for non-prefix queries"
    for r in out:
        # neighbor shares the query's centroid under the CORPUS codebook
        assert corpus_cent[r.neighbor_id] == corpus_cent[r.query_id]


def test_pq_encode_codes_shape_and_determinism(spark, sf_dir):
    """PQ codes: one int per subspace, each in [0, ks), bit-identical
    across builds (deterministic first-N-by-id codebooks)."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(emb, n_sub=4, ks=16)
    assert len(cbs) == 4 and all(len(cb) == 16 for cb in cbs)
    assert all(len(c) == 16 for cb in cbs for c in cb)  # 64/4 dims each
    rows1 = pq_encode(emb, cbs).select("vec_id", "pq_codes").collect()
    rows2 = pq_encode(emb, cbs).select("vec_id", "pq_codes").collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    for r in rows1:
        assert len(r.pq_codes) == 4
        assert all(0 <= c < 16 for c in r.pq_codes)


def test_ivfpq_adc_matches_exact_l2_on_codebook_vectors(spark):
    """When every vector IS a PQ centroid (corpus = the first-ks-by-id
    codebook source), quantization is lossless: ADC distance equals
    exact squared L2 shifted by -||q||^2, so the neighbor ORDER must
    equal the exact-L2 order."""
    import itertools

    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 1.0],
        3: [0.7, 0.3, 0.1, 0.0],
    }
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        k=3,
        n_centroids=1,  # single list: pure ADC ranking, no IVF pruning
        n_sub=2,
        ks=4,
    ).collect()
    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))
    exact = sorted(
        (k for k in vecs if k != 0), key=lambda k: (l2(vecs[0], vecs[k]), k)
    )
    assert [r.neighbor_id for r in out] == exact
    # adc_dist ascending and internally consistent
    dists = [r.adc_dist for r in out]
    assert dists == sorted(dists)


def test_ivfpq_prebuilt_index_path_equals_inline_build(spark, sf_dir):
    """The served-index split (r9): ivfpq_topk probing a prebuilt
    ivfpq_corpus_codes index must return EXACTLY the rows of the
    inline-build path — and the probe must honor the index's own
    subspace split (n_sub derived from the index, not the call-site
    default: an 8-subspace index probed with the default 4 would
    silently rank by half the PQ distance)."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivfpq_corpus_codes,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    inline = sorted(map(tuple, ivfpq_topk(emb, queries, k=10).collect()))
    idx = ivfpq_corpus_codes(emb)
    served = sorted(
        map(tuple, ivfpq_topk(emb, queries, k=10, index=idx).collect())
    )
    assert served == inline
    # the index defines the split: an n_sub=8 index probed with the
    # call-site default must equal the inline n_sub=8 result
    inline8 = sorted(
        map(tuple, ivfpq_topk(emb, queries, k=10, n_sub=8).collect())
    )
    idx8 = ivfpq_corpus_codes(emb, n_sub=8)
    served8 = sorted(
        map(tuple, ivfpq_topk(emb, queries, k=10, index=idx8).collect())
    )
    assert served8 == inline8


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    """IVFPQ recall@10 against the exact baseline on driver embeddings:
    quantized top-k must keep a usable fraction of true neighbors
    (bounded below — the codebooks are tiny, so this is a sanity floor,
    not a quality benchmark)."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = ivfpq_topk(emb, queries, k=10).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    assert sum(recalls) / len(recalls) >= 0.1


def test_codebook_cache_matches_retrain(spark, sf_dir):
    """The plans-layer fitted-artifact cache must be bit-identical to
    retraining: same corpus + hyperparams -> same codebook, and an
    ivf_topk run with an explicit codebook equals the train-inside run."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivf_topk,
        kmedians_codebook,
    )
    from retail_sales_analysis_etl_bi_project_spark.plans.similarity_queries import (
        _corpus_codebook,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cached = _corpus_codebook(spark, sf_dir, refine_iters=2)
    fresh = kmedians_codebook(emb, 16, 2)
    assert cached == fresh  # exact float equality — deterministic training

    q = emb.filter(emb.vec_id < 3)
    via_cache = ivf_topk(emb, q, k=5, n_centroids=16, codebook=cached).collect()
    via_train = ivf_topk(emb, q, k=5, n_centroids=16, refine_iters=2).collect()
    assert via_cache == via_train


def test_embedding_pairs_prejoin_norms_match_naive(spark, sf_dir):
    """embedding_near_dup_pairs precomputes norms per VECTOR before the
    all-pairs join (r11); the (pair, cosine) output must equal the
    naive per-pair cosine_expr form bit-for-bit — the dedup family's
    oracles hash these doubles."""
    from pyspark.sql import functions as F

    from retail_sales_analysis_etl_bi_project_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        cosine_expr,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    naive = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine_expr("ea", "eb").alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
        .collect()
    }
    fast = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    assert naive == fast


def test_matryoshka_ladder_orderings(spark, sf_dir):
    """The MRL ladder's VALUE claims (the oracle pins exact doubles;
    this pins the orderings the docstring states): full-dim recall is
    1.0 by construction, reranking a truncated shortlist never loses
    to direct truncation at the same prefix width, wider prefixes
    never lose to narrower ones, and every rung is a valid recall."""
    import __spark_entry__ as entrymod

    rows = {
        r.method: r
        for r in entrymod.queries()["sim_matryoshka_recall"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"full64", "trunc16", "trunc32", "trunc16_rerank50"}
    assert rows["full64"].recall_at_10 == 1.0
    assert (
        rows["trunc16_rerank50"].recall_at_10 >= rows["trunc16"].recall_at_10
    )
    assert rows["trunc32"].recall_at_10 >= rows["trunc16"].recall_at_10
    for r in rows.values():
        assert r.n_truth == 50 and 0.0 <= r.recall_at_10 <= 1.0


def test_matryoshka_ranks_rerank_contract(spark, sf_dir):
    """matryoshka_ranks: rank_full is a permutation of 1..n per query;
    the rerank window sorts shortlist members first, so every
    rank_rr <= rerank_from row IS a shortlist row (the documented
    consumer contract), and within the shortlist the rerank order is
    the full-dim order."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        matryoshka_ranks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    out = matryoshka_ranks(
        emb, emb.filter(F.col("vec_id") < 2), dims=(16, 32), rerank_from=20
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 2
    for rows in by_q.values():
        n = len(rows)
        assert sorted(r.rank_full for r in rows) == list(range(1, n + 1))
        shortlist = {r.neighbor_id for r in rows if r.rank_d16 <= 20}
        top_rr = {r.neighbor_id for r in rows if r.rank_rr <= 20}
        assert top_rr == shortlist
        # within the shortlist, rerank order == full-dim cosine order
        sl = sorted((r for r in rows if r.rank_d16 <= 20), key=lambda r: r.rank_rr)
        cosines = [r.cos_full for r in sl]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_multi_assignments_degenerate_cosine_matches_argmax(spark):
    """Degenerate-input contract (review finding, r12): a zero-norm
    CODEBOOK vector makes Spark's double division return NULL cosines;
    array_max SKIPS nulls, so the argmax never picks the degenerate
    centroid while a finite cosine exists — the multi-assignment sort
    key must push those centroids LAST to agree (a bare negation would
    sort the NULL struct field first and hand every vector to the
    broken centroid). The all-degenerate row (vec 0 itself) is outside
    the contract: argmax is NULL there, documented in the operator."""
    from retail_sales_analysis_etl_bi_project_spark.operators.similarity import (
        ivf_assignments,
        ivf_multi_assignments,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),  # zero-norm codebook vector -> NULL cosine
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    single, cb = ivf_assignments(emb, n_centroids=2)
    argmax = {r.vec_id: r.centroid_id for r in single.collect()}
    assert argmax[0] is None  # all-null sims: argmax yields NULL
    assert argmax[1] == argmax[2] == argmax[3] == 1  # finite wins
    m1, _ = ivf_multi_assignments(emb, n_centroids=2, n_assign=1, codebook=cb)
    got1 = {r.vec_id: r.centroid_id for r in m1.collect()}
    # rank-1 equals the argmax wherever the argmax is defined
    assert {k: v for k, v in got1.items() if k != 0} == {
        k: v for k, v in argmax.items() if k != 0
    }

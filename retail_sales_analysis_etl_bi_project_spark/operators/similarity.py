"""Similarity search over embedding columns (north-star extension,
BASELINE.json: 'similarity search' for LLM-data pipelines).

The reference has no vector operations; these are new, Spark-first:

- cosine_expr       : exact cosine via JVM-side higher-order functions
                      (zip_with + aggregate fold) — no Python UDF, stays
                      inside codegen, bit-identical to a sequential fold
- brute_force_topk  : exact top-k for a (small) query set vs the corpus —
                      broadcast the queries, scan the corpus once,
                      per-query top-k via window rank
- lsh_topk          : approximate top-k via random-hyperplane LSH —
                      the 100 TB path: corpus is bucketed by sign
                      signature, so each query only scans its bucket

Scale notes: brute force is O(|Q| x |corpus|) — correct baseline, only
viable when |Q| is small or the corpus fits a single scan per query
batch. LSH reduces candidate sets by ~2^bits; signatures are computed
in one pass and the bucket join is a plain shuffle-on-key equi-join, so
it parallelizes trivially on a cluster.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dbl(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _vec_lit_sql(row: list[float]) -> str:
    """SQL fragment for one array<double> literal. repr() is Python's
    shortest round-trip form and Spark's double parsing is correctly
    rounded, so the parsed value is BIT-IDENTICAL to F.lit of the same
    float (verified incl. -0.0 / 1e-300 / double-max); the D suffix
    pins the literal to DOUBLE (a bare decimal literal parses as
    DECIMAL). Non-finite entries have no numeric literal form (repr
    gives ``nanD``/``infD``, which parse as column names), so they are
    emitted as string casts, which Spark parses to the same IEEE
    values."""
    return "array(" + ",".join(_dbl_lit_sql(float(x)) for x in row) + ")"


def _dbl_lit_sql(x: float) -> str:
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _nested_lit(values: list[list[float]]) -> Column:
    """One Literal node for a codebook / plane matrix, built by PARSING
    one SQL string (r16): F.lit(list-of-lists) converts the 16x64
    nested list element-wise over py4j — measured 0.5-0.7 s of driver
    time PER CALL on Spark 4.1, paid once per Lloyd round and once per
    assignment plan — while parsing the equivalent string costs ~3 ms
    and yields a bit-identical array<array<double>> literal (same
    dtype, same IEEE bits — see _vec_lit_sql). Analysis and codegen
    still see a single constant."""
    return F.expr(
        "array(" + ",".join(_vec_lit_sql(row) for row in values) + ")"
    )


def _parallelize(df: DataFrame, key: str) -> DataFrame:
    """Alias of operators.partitioning.to_cluster_width — see there
    for the rationale and tradeoffs (single shared definition)."""
    from .partitioning import to_cluster_width

    return to_cluster_width(df, key)


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns. The fold
    order is the array order, so results are deterministic and match any
    single-threaded oracle exactly.

    Measured dead end (r11): unrolling the fold into a flat 64-term
    ((0.0 + a0*b0) + a1*b1) + ... expression is bit-identical but ~3x
    SLOWER under the BroadcastNestedLoopJoin where the all-pairs
    truths evaluate it (128 interpreted GetArrayItem nodes vs the
    fold's single tight-loop expression node) — the win there is
    precomputing the NORMS per vector before the join
    (dedup.embedding_near_dup_pairs), not reshaping the dot."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    a, b = _dbl(a), _dbl(b)
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact ANN baseline: for every query vector, the k nearest corpus
    vectors by cosine. Queries are broadcast (small side); the corpus is
    scanned once. Result: (query_id, neighbor_id, cosine, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = _parallelize(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def matryoshka_ranks(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (16, 32),
    rerank_from: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(query, neighbor) ranks under MATRYOSHKA dimension budgets
    (Kusupati et al. 2022 — MRL embeddings are trained so PREFIXES of
    the vector are themselves usable embeddings): full-dim rank, one
    rank per truncated prefix width in ``dims``, and the two-stage
    rank ``rank_rr`` (candidates = top-``rerank_from`` by the
    SMALLEST prefix's cosine, reranked by full-dim cosine) — the
    standard MRL serving pattern: cheap truncated dots shortlist,
    exact full-dim dots rerank a bounded candidate set.

    ONE broadcast pass computes every cosine (prefix dots reuse the
    same row — no per-dim corpus rescans), and all ranks are windows
    over the SAME query_id partitioning, so the whole ladder costs one
    scored-row shuffle regardless of how many budgets are audited.
    The rerank rank is computed windowed over all rows by sorting
    shortlist members first (rank_d<dims[0]> <= rerank_from desc);
    it is only MEANINGFUL on shortlist rows — consumers must pair
    ``rank_rr <= k`` with ``rank_d{dims[0]} <= rerank_from``."""
    d0 = dims[0]
    q = queries.select(
        F.col(id_col).alias("query_id"), _dbl(vec_col).alias("qv")
    )
    c = _parallelize(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), _dbl(vec_col).alias("cv")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("cos_full"),
        *[
            cosine_expr(
                F.slice(F.col("qv"), 1, d), F.slice(F.col("cv"), 1, d)
            ).alias(f"cos_d{d}")
            for d in dims
        ],
    )

    def w(*order):
        return Window.partitionBy("query_id").orderBy(*order)

    out = scored.withColumn(
        "rank_full",
        F.row_number().over(w(F.desc("cos_full"), F.asc("neighbor_id"))),
    )
    for d in dims:
        out = out.withColumn(
            f"rank_d{d}",
            F.row_number().over(
                w(F.desc(f"cos_d{d}"), F.asc("neighbor_id"))
            ),
        )
    return out.withColumn(
        "rank_rr",
        F.row_number().over(
            w(
                F.desc(F.col(f"rank_d{d0}") <= rerank_from),
                F.desc("cos_full"),
                F.asc("neighbor_id"),
            )
        ),
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed -> reproducible across
    runs and executors; shipped to the plan as literals, ~dim*n_planes
    doubles, negligible)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def signature_expr(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit signature string, e.g. '1011...': one bit per hyperplane."""
    v = _dbl(vec_col)
    bits = []
    for plane in planes:
        # parsed literal — same bit-identical-value argument as
        # _nested_lit, ~dim py4j calls saved per plane (r16)
        p = F.expr(_vec_lit_sql(plane))
        bits.append(F.when(dot_expr(v, p) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def centroid_sims_expr(v: Column, codebook: list[list[float]]) -> Column:
    """Per-centroid cosine array against a literal codebook, as a
    transform() loop over one array<array<double>> literal — compact
    codegen (see ivf_assignments)."""
    cb_lit = _nested_lit(codebook)
    return F.transform(cb_lit, lambda c: cosine_expr(v, c))


def ivf_assignments(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantization with deterministic centroids: the first
    ``n_centroids`` vectors by id serve as the codebook (a k-means
    refinement would drop in here; sampled centroids keep it
    deterministic and dependency-free). Returns (assignments, codebook)
    where assignments adds a ``centroid_id`` column = argmax cosine.

    Pass ``codebook`` to assign against an EXISTING codebook — required
    when assigning queries, which must share the CORPUS codebook or
    their centroid_ids index a different partitioning and the probe
    join compares unrelated inverted lists.

    The codebook is collected to the driver (n_centroids x dim floats —
    KBs) and shipped as literals, so assignment is a pure per-row
    expression: no join, no shuffle."""
    if codebook is None:
        rows = (
            emb.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
        )
        codebook = [[float(x) for x in r[0]] for r in rows]
    v = _dbl(vec_col)
    # The codebook ships as ONE literal array<array<double>> and the
    # per-centroid cosines come from a transform() HOF: whole-stage
    # codegen emits a runtime LOOP over centroids instead of n_centroids
    # unrolled cosine trees (~3k expression nodes at 16x64), which cut
    # the compile time that dominated the k-medians bench entry. Same
    # arithmetic per centroid (zip_with+aggregate fold), so results are
    # bit-identical to the unrolled form.
    # argmax via array_max + array_position: each cosine appears exactly
    # once. (An iterative when-chain would nest every previous
    # comparison inside the next — exponential blowup beyond ~10
    # centroids.)
    sims_arr = centroid_sims_expr(v, codebook)
    best = (F.array_position(sims_arr, F.array_max(sims_arr)) - 1).cast("int")
    return emb.withColumn("centroid_id", best), codebook


def ivf_multi_assignments(
    emb: DataFrame,
    n_centroids: int = 16,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Multi-assignment IVF quantization: every vector is assigned to
    its ``n_assign`` NEAREST centroids (cosine desc, centroid_id asc on
    ties) instead of only the argmax — the standard soft-assignment
    mitigation for cluster-boundary misses in cluster-blocked dedup /
    IVF probing (a near-dup pair split across two clusters is still
    co-bucketed if either cluster is in both vectors' top-``n_assign``
    lists). Returns (assignments, codebook) where assignments holds
    ``n_assign`` rows per input row, each with a ``centroid_id``.

    Rank-1 equals ivf_assignments' argmax exactly (same tie rule:
    array_position takes the FIRST index of the max = smallest
    centroid_id; here the (−sim, cid) struct sort breaks ties by cid
    asc — pinned in tests/test_similarity.py), so n_assign=1
    reproduces the single-assignment relation row-for-row.

    Scale shape: same pure per-row expression against the broadcast
    literal codebook — no join, no shuffle; the output is exactly
    ``n_assign``× the input rows, so downstream per-cluster C(m,2)
    costs scale by ≤ n_assign² in the worst case (in practice far
    less: clusters grow by boundary vectors only)."""
    if codebook is None:
        rows = (
            emb.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
        )
        codebook = [[float(x) for x in r[0]] for r in rows]
    sims_arr = centroid_sims_expr(_dbl(vec_col), codebook)
    # (−sim, cid) structs sort ascending = cosine DESC, centroid ASC;
    # slice the top n_assign and explode — one expression chain, no
    # per-centroid window or join. Degenerate cosines — a zero-norm
    # vector or codebook entry makes Spark's double division return
    # NULL (measured; a NULL struct field would sort FIRST and win
    # every rank) — map to +inf so they sort LAST, matching
    # ivf_assignments' array_max, which SKIPS nulls and therefore
    # never argmaxes a degenerate centroid while any finite cosine
    # exists (review finding, r12). Real cosines are in [−1, 1], so no
    # collision. A row whose EVERY cosine is degenerate (zero-norm
    # input vector) is outside the rank-1==argmax contract: the argmax
    # is NULL there, while this form emits the n_assign smallest
    # centroid ids — the registered corpora cannot produce it (no
    # zero-norm embeddings), and the planted-input test pins the
    # any-finite-cosine behavior.
    ranked = F.transform(
        sims_arr,
        lambda s, i: F.struct(
            F.when(
                s.isNull() | F.isnan(s), F.lit(float("inf"))
            )
            .otherwise(-s)
            .alias("neg_sim"),
            i.cast("int").alias("cid"),
        ),
    )
    top = F.slice(F.array_sort(ranked), 1, n_assign)
    assigned = emb.withColumn(
        "centroid_id", F.explode(F.transform(top, lambda t: t["cid"]))
    )
    return assigned, codebook


def kmedians_codebook(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int = 4,
    train_source: DataFrame | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd-style refinement of the IVF codebook using
    per-dimension MEDIANS (k-medians), trained on a deterministic
    SAMPLE: rows with ``id_col % train_mod == 0`` (train_mod=1 trains on
    everything). Init = first n_centroids sample vectors by id, then
    ``iters`` rounds of assign -> per-centroid component-wise median.

    Sampling is the 100 TB posture: codebook TRAINING must never scan
    the full corpus per iteration — a codebook is a statistical summary
    and converges on a fraction of the data, so each Lloyd round runs
    on corpus/train_mod rows and the full corpus is assigned exactly
    ONCE afterwards (by the caller). The modulus predicate (not
    ``sample()``) keeps the training set reproducible at any
    parallelism and replayable in the SQL oracle.

    Median, not mean, deliberately: the exact median of a sorted double
    multiset is partitioning-independent AND bit-identical across
    engines (Spark ``percentile`` == DuckDB ``quantile_cont``, proven by
    the percentile oracle), whereas cross-engine double->decimal casts
    round differently (DuckDB multiplies in double arithmetic, Spark
    goes through shortest-repr BigDecimal), so a mean-based codebook
    could diverge in the last ulp and flip a borderline argmax. Per
    iteration: one assignment expression (no shuffle) + one posexplode
    groupBy (centroid, dim) aggregate — n_centroids*dim result rows
    collected (KBs). Centroids that capture no vectors keep their
    previous position. (Exact per-group median sorts per group — swap
    in approx_percentile if the sampled inverted lists are still
    huge.)

    ``train_source``: a relation row-identical to ``emb`` that is
    ALREADY at cluster width (e.g. the plans layer's persisted
    parallelized corpus) — every Lloyd round re-evaluates the training
    relation, so left to the default each round re-ran the corpus scan
    + the explicit repartition; an injected persisted source makes the
    rounds read from memory. The mod filter still applies here, the
    init codebook and every median are over the identical multiset,
    and the per-group exact percentile is partitioning-independent, so
    the fitted codebook is bit-identical either way (r16)."""
    return kmedians_codebooks(
        emb,
        n_centroids,
        iters,
        id_col,
        vec_col,
        train_mods=(train_mod,),
        train_source=train_source,
    )[train_mod]


def kmedians_codebooks(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mods: tuple[int, ...] = (4,),
    train_source: DataFrame | None = None,
) -> dict[int, list[list[float]]]:
    """LOCKSTEP multi-config k-medians: fit one codebook PER
    ``train_mods`` entry with the per-round median aggregations of ALL
    configs UNIONED into a single job (tagged by the mod, grouped by
    (mod, centroid, dim)) — the r15 VERDICT's "fit all configs from one
    sample pass". Per config the grouped exact percentile runs over the
    identical multiset the single-config loop used, so each returned
    codebook is bit-identical to a kmedians_codebook call with that
    train_mod; what changes is only the JOB COUNT: ``iters`` collect
    jobs total instead of ``iters * len(train_mods)`` (the recall-tuning
    ladder fits mod-4 and mod-1 variants in one pass per round).
    Single implementation — kmedians_codebook delegates here."""
    src = train_source if train_source is not None else emb
    trains: dict[int, DataFrame] = {}
    cbs: dict[int, list[list[float]]] = {}
    for mod in train_mods:
        train = (
            src.filter((F.col(id_col) % mod) == 0) if mod > 1 else src
        )
        _, cb = ivf_assignments(train, n_centroids, id_col, vec_col)
        if not cb:
            raise ValueError(
                "kmedians_codebook: empty training sample "
                f"(train_mod={mod} over a corpus with no matching ids)"
            )
        # a small sample can seed FEWER than n_centroids centroids;
        # iterate over the codebook actually built, not the requested
        # count (r6 review finding)
        if train_source is None:
            # assignment expressions are the compute-heavy phase of
            # each Lloyd round — run them at cluster width, not
            # input-file granularity (already wide when injected)
            train = _parallelize(train, id_col)
        trains[mod] = train
        cbs[mod] = cb
    for _ in range(iters):
        parts = []
        for mod in train_mods:
            assigned, _ = ivf_assignments(
                trains[mod], len(cbs[mod]), id_col, vec_col, codebook=cbs[mod]
            )
            parts.append(
                assigned.select(
                    F.lit(mod).alias("_mod"),
                    "centroid_id",
                    F.posexplode(_dbl(vec_col)).alias("pos", "val"),
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        rows = (
            u.groupBy("_mod", "centroid_id", "pos")
            .agg(F.percentile("val", F.lit(0.5)).alias("m"))
            .collect()
        )
        med: dict[int, dict[int, dict[int, float]]] = {}
        for r in rows:
            med.setdefault(r["_mod"], {}).setdefault(r.centroid_id, {})[
                r.pos
            ] = r.m
        for mod in train_mods:
            medians = med.get(mod, {})
            dim = len(cbs[mod][0])
            cbs[mod] = [
                [medians[c][p] for p in range(dim)]
                if c in medians
                else cbs[mod][c]
                for c in range(len(cbs[mod]))
            ]
    return cbs


def probe_assignments(
    queries: DataFrame,
    codebook: list[list[float]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``nprobe`` centroids per query (multi-probe): posexplode the
    per-centroid cosine array and rank (cosine DESC, centroid_id ASC —
    the same tie-break as single-probe argmax). The explode+window runs
    over the QUERY set only, which is small by assumption; the corpus
    keeps its pure-expression single assignment."""
    v = _dbl(vec_col)
    sims = centroid_sims_expr(v, codebook)
    exploded = queries.select(
        F.col(id_col), F.col(vec_col), F.posexplode(sims).alias("centroid_id", "_sim")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc("centroid_id"))
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_corpus_lists(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """IVF INDEX-BUILD stage: the corpus with its ``centroid_id``
    column — the inverted lists a production IVF system stores (the
    corpus sharded by centroid). Like ivfpq_corpus_codes, callers
    serving repeated query batches should build this once
    (plans/similarity_queries.py memo-persists it per corpus) instead
    of re-assigning the corpus per batch."""
    if codebook is None:
        _, codebook = ivf_assignments(corpus, n_centroids, id_col, vec_col)
    assigned, _ = ivf_assignments(
        _parallelize(corpus, id_col), n_centroids, id_col, vec_col,
        codebook=codebook,
    )
    return assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    nprobe: int = 1,
    train_mod: int = 4,
    codebook: list[list[float]] | None = None,
    corpus_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: queries score only the corpus vectors assigned to their
    ``nprobe`` closest centroids. The probe join is an equi-join on
    centroid_id — at 100 TB each query touches ~nprobe*corpus/
    n_centroids rows, and the inverted lists shard naturally by
    centroid. ``refine_iters > 0`` refines the codebook with that many
    deterministic k-medians iterations (kmedians_codebook) trained on
    the ``id % train_mod == 0`` sample — the full corpus is then
    assigned exactly once; ``nprobe > 1`` trades proportionally more
    scanning for recall (the standard IVF knob).

    ``codebook``: pass a previously trained codebook to skip training
    entirely (refine_iters/train_mod are then ignored). A codebook is a
    FITTED ARTIFACT — at 100 TB it is trained once and reused by every
    query batch, never re-derived per query; the plans layer memoizes
    it per corpus for exactly that reason.

    ``corpus_assigned``: reuse prebuilt inverted lists from
    ivf_corpus_lists (requires ``codebook`` — queries must be assigned
    against the same codebook the lists were built with)."""
    if corpus_assigned is not None:
        if codebook is None:
            raise ValueError(
                "corpus_assigned requires the codebook it was built with"
            )
        cb = codebook
        assigned = corpus_assigned
    else:
        if codebook is not None:
            cb = codebook
        elif refine_iters > 0:
            cb = kmedians_codebook(
                corpus, n_centroids, refine_iters, id_col, vec_col, train_mod
            )
        else:
            _, cb = ivf_assignments(corpus, n_centroids, id_col, vec_col)
        assigned = ivf_corpus_lists(corpus, n_centroids, id_col, vec_col, cb)
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "centroid_id"
    )
    # queries MUST be assigned against the CORPUS codebook: a
    # query-derived codebook would give centroid_ids that index a
    # different partitioning, and the probe equi-join would compare
    # semantically unrelated inverted lists (recall collapse).
    if nprobe > 1:
        q_assigned = probe_assignments(queries, cb, nprobe, id_col, vec_col)
    else:
        q_assigned, _ = ivf_assignments(
            queries, n_centroids, id_col, vec_col, codebook=cb
        )
    q = q_assigned.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "centroid_id"
    )
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_codebooks(
    emb: DataFrame,
    n_sub: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the embedding space is split into
    ``n_sub`` contiguous subspaces and each gets its own ``ks``-entry
    codebook. Deterministic init = the first ``ks`` vectors by id,
    sliced per subspace (the same dependency-free convention as
    ivf_assignments — a per-subspace k-medians refinement would drop in
    exactly like kmedians_codebook does for the coarse quantizer).
    Returns codebooks[m][j] = centroid j of subspace m; total size
    n_sub*ks*(dim/n_sub) doubles — KBs, driver-collected once."""
    rows = emb.orderBy(id_col).limit(ks).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in rows]
    sub = len(vecs[0]) // n_sub
    return [[v[m * sub : (m + 1) * sub] for v in vecs] for m in range(n_sub)]


def pq_subscores_expr(
    vec: Column, m: int, sub: int, centroids: list[list[float]]
) -> Column:
    """Per-centroid ADC scores for subspace ``m``: score_j = c_j.c_j -
    2*(v_m . c_j), a monotone shift of the squared L2 distance
    ||v_m - c_j||^2 (the per-row ||v_m||^2 term is constant across j, so
    argmin and cross-subspace sums rank identically). Built ONLY from
    the sequential-fold dot product — the primitive whose Spark
    (zip_with+aggregate) and DuckDB (list_dot_product) forms are proven
    bit-identical by the brute-force oracle — so the whole PQ pipeline
    stays hash-verifiable. One transform() loop over a literal
    array<array<double>>: compact codegen, no join, no shuffle."""
    subv = F.slice(vec, m * sub + 1, sub)
    cb_lit = _nested_lit(centroids)
    return F.transform(
        cb_lit, lambda c: dot_expr(c, c) - F.lit(2.0) * dot_expr(subv, c)
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the
    closest centroid (first-index tie-break via array_position of
    array_min — the same convention as ivf_assignments' argmax).
    ``out_col`` is array<int> of length n_sub: at 100 TB this is THE
    point of PQ — a 64-dim float64 vector (512 B) compresses to n_sub
    small ints (4 B at n_sub=4, ks<=256), a ~128x reduction, so the
    candidate-scoring join moves codes, never raw vectors. Pure
    per-row expression: no shuffle, stays in whole-stage codegen."""
    v = _dbl(vec_col)
    sub = len(codebooks[0][0])
    codes = []
    for m, cbm in enumerate(codebooks):
        scores = pq_subscores_expr(v, m, sub, cbm)
        codes.append((F.array_position(scores, F.array_min(scores)) - 1).cast("int"))
    return df.withColumn(out_col, F.array(*codes))


def ivfpq_corpus_codes(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[float]] | None = None,
) -> tuple[DataFrame, list, list[list[float]]]:
    """IVF+PQ INDEX-BUILD stage: encode the corpus into
    (neighbor_id, centroid_id, pq_codes) plus the (PQ codebooks,
    coarse codebook) pair queries score against. This relation is the
    persisted artifact of a production ANN system — ~128x smaller than
    the raw vectors — so callers serving repeated query batches should
    build it once (plans/similarity_queries.py memo-persists it per
    corpus) rather than re-encode per batch."""
    if codebook is not None:
        cb = codebook
    else:
        _, cb = ivf_assignments(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_corpus_lists(corpus, n_centroids, id_col, vec_col, cb)
    # Branch on len(cb), not the n_centroids parameter: with a
    # caller-supplied codebook shorter than n_centroids, cb[:ks] would
    # silently yield fewer than ks PQ training vectors while the shared
    # helper raises — the two derivations must use the same condition.
    if ks <= len(cb):
        # Both codebooks init from the first-N-by-id convention, so the
        # first ks coarse centroids ARE the PQ training vectors — slice
        # them instead of running a second orderBy/limit/collect job
        # over the corpus.
        cbs = pq_codebooks_from_coarse(cb, n_sub, ks)
    else:
        cbs = pq_codebooks(corpus, n_sub, ks, id_col, vec_col)
    codes = pq_encode(assigned, cbs, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id", "pq_codes"
    )
    return codes, cbs, cb


def pq_codebooks_from_coarse(
    cb: list[list[float]], n_sub: int, ks: int
) -> list[list[list[float]]]:
    """The slice path of ivfpq_corpus_codes as a shared helper (a
    caller re-deriving the slice privately could silently diverge from
    the branch the corpus was encoded with — review finding, r9):
    valid only while the first ks coarse centroids ARE the PQ training
    vectors, i.e. ks <= n_centroids."""
    if ks > len(cb):
        raise ValueError(
            f"ks={ks} > n_centroids={len(cb)}: the slice derivation no "
            "longer matches ivfpq_corpus_codes (it trains via "
            "pq_codebooks there); build the index and reuse its cbs"
        )
    sub = len(cb[0]) // n_sub
    return [
        [v[m * sub : (m + 1) * sub] for v in cb[:ks]] for m in range(n_sub)
    ]


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_sub: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[list[float]] | None = None,
    index: tuple[DataFrame, list, list[list[float]]] | None = None,
) -> DataFrame:
    """IVF+PQ ANN (the FAISS IVFADC shape): coarse IVF restricts each
    query to its centroid's inverted list, and within the list
    candidates are ranked by ASYMMETRIC DISTANCE COMPUTATION — the
    query precomputes one score table per subspace (ks doubles each)
    and each candidate costs n_sub array lookups + adds instead of a
    dim-length dot product. Result: (query_id, neighbor_id, adc_dist,
    rank) with adc_dist ascending (it is ||q-x||^2 shifted by the
    constant -||q||^2 per query, so ranks equal true PQ-approx ranks).

    100 TB posture: the corpus side of the probe join carries only
    (id, centroid_id, pq_codes) — the ~128x-compressed representation —
    while raw vectors never leave their scan; the query side (ids +
    n_sub score tables) broadcasts. Scoring is a fixed chain of
    element lookups, left-associated adds matching the oracle's
    parenthesization exactly, so the hash check covers the arithmetic.

    ``codebook``: reuse a fitted coarse codebook (see ivf_topk) — the
    PQ codebooks derive from it by slicing when ks <= n_centroids.

    ``index``: reuse a prebuilt (codes, cbs, cb) triple from
    ivfpq_corpus_codes — the production posture: the encoded corpus IS
    the stored index (FAISS persists it); re-encoding the corpus per
    query batch is what this parameter exists to avoid."""
    if index is not None:
        c, cbs, cb = index
        # the index's codebooks define the subspace split — a caller
        # leaving n_sub at its default while passing an 8-subspace
        # index would otherwise score with half the PQ distance,
        # silently (review finding, r9)
        n_sub = len(cbs)
    else:
        c, cbs, cb = ivfpq_corpus_codes(
            corpus, n_centroids, n_sub, ks, id_col, vec_col, codebook
        )
    sub = len(cbs[0][0])
    # queries assigned against the CORPUS coarse codebook (the round-2
    # IVF rule) and scored against the CORPUS PQ codebooks.
    q_assigned, _ = ivf_assignments(queries, n_centroids, id_col, vec_col, codebook=cb)
    v = _dbl(vec_col)
    q = q_assigned.select(
        F.col(id_col).alias("query_id"),
        "centroid_id",
        *[
            pq_subscores_expr(v, m, sub, cbs[m]).alias(f"dt{m}")
            for m in range(n_sub)
        ],
    )
    adc = F.get(F.col("dt0"), F.col("pq_codes")[0])
    for m in range(1, n_sub):
        adc = adc + F.get(F.col(f"dt{m}"), F.col("pq_codes")[m])
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates are corpus vectors in the query's
    LSH bucket; exact cosine + rank within the bucket. At 100 TB the
    bucket join replaces the full cross product with an equi-join on the
    signature — each query touches ~|corpus| / 2^n_planes rows."""
    planes = hyperplanes(dim, n_planes, seed)
    sig = signature_expr(vec_col, planes)
    c = _parallelize(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sig.alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sig.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# --------------------------------------------- vector-column aggregation


def label_centroid_stats(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding-space audit: vector count, centroid L2 norm,
    and mean per-vector L2 norm. The drift/collapse monitor an embedding
    pipeline runs per class or per shard — a centroid norm near 0 means
    the class is isotropic noise; near the mean norm means collapse.

    This is the distributed COLUMN-WISE vector aggregation pattern:
    posexplode to (label, pos, x) and partial+final aggregate per
    (label, pos) — 64 fixed-width rows per label move in the shuffle,
    never whole vectors. Cross-row float sums are NOT order-safe, so
    every cross-row sum goes through decimal(27,15) (exact, associative
    — the functions.money discipline); per-row norms are sequential
    array folds (norm_expr) that any single-threaded oracle reproduces
    bit-for-bit, and the only cross-engine float ops left (double
    divide, sqrt, round) are IEEE correctly-rounded in both engines.
    """
    vecs = emb.select(F.col(label_col).alias("label"), _dbl(vec_col).alias("v"))
    comp_sums = (
        vecs.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(27,15)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label", "pos", (F.col("s").cast("double") / F.col("n")).alias("c")
        )
    )
    centroid_norms = comp_sums.groupBy("label").agg(
        F.sqrt(
            F.sum((F.col("c") * F.col("c")).cast("decimal(27,15)")).cast("double")
        ).alias("centroid_norm")
    )
    row_norms = vecs.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        (
            F.sum(norm_expr(F.col("v")).cast("decimal(27,15)")).cast("double")
        ).alias("sum_norm"),
    )
    return (
        row_norms.join(centroid_norms, "label")
        .select(
            "label",
            "n_vecs",
            F.round("centroid_norm", 9).alias("centroid_norm"),
            F.round(F.col("sum_norm") / F.col("n_vecs"), 9).alias("mean_norm"),
        )
        .orderBy("label")
    )


def quantize_int8_stats(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the compression
    step an embedding store runs before serving ANN at scale (4x over
    float32; FAISS SQ8 / product-scalar-quantization shape): each vector
    quantizes with its own scale s = max|x|/127, codes
    q_i = floor(x_i/s + 0.5) in [-127, 127], reconstruction x~ = q_i*s.
    Emits per-label fleet stats — vector count, mean scale, MSE and max
    absolute reconstruction error — the drift dashboard that decides
    whether int8 is still safe for a given label/shard.

    Cross-engine: scale/quantize/reconstruct are per-element IEEE ops
    (divide, floor, multiply — correctly rounded in both engines); the
    per-vector squared-error total is dot(err, err) via the sequential
    fold of dot_expr, which DuckDB's list_dot_product reproduces
    bit-for-bit (the label_centroid_stats discipline); cross-row sums
    go through decimal(27,15). Zero vectors (s = 0) pass through with
    zero error rather than dividing by zero (Spark double x/0 is NULL
    while DuckDB yields inf — the guard keeps the engines identical).

    Scale shape (100 TB): pure per-row expressions fused into the scan
    plus one partial-aggregated groupBy(label) over 4 fixed-width
    columns — vectors never shuffle.
    """
    v = _dbl(vec_col)
    base = emb.select(
        F.col(label_col).alias("label"),
        v.alias("x"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    err = base.select(
        "label",
        "scale",
        F.size("x").cast("long").alias("dim"),
        F.when(
            F.col("scale") > 0,
            F.transform(
                "x",
                lambda a: a - F.floor(a / F.col("scale") + F.lit(0.5)) * F.col("scale"),
            ),
        )
        .otherwise(F.col("x"))
        .alias("e"),
    )
    per_vec = err.select(
        "label",
        "scale",
        "dim",
        dot_expr(F.col("e"), F.col("e")).alias("sse"),
        F.array_max(F.transform("e", F.abs)).alias("mae"),
    )
    dec = lambda c: F.col(c).cast("decimal(27,15)")  # noqa: E731
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.sum(dec("scale")).cast("double") / F.count(F.lit(1))).alias("_avg_s"),
            (F.sum(dec("sse")).cast("double") / F.sum("dim")).alias("_mse"),
            F.max("mae").alias("_mae"),
        )
        .select(
            "label",
            "n_vecs",
            F.round("_avg_s", 12).alias("avg_scale"),
            F.round("_mse", 12).alias("mse"),
            F.round("_mae", 12).alias("max_abs_err"),
        )
        .orderBy("label")
    )

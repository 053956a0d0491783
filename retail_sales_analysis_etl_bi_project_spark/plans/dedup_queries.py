"""Driver-checkable deduplication queries (north-star extension): exact,
fingerprint, n-gram Jaccard, MinHash-LSH, SimHash, embedding-cosine.

ALL six carry full DuckDB oracles. MinHash/SimHash signatures use the
hash60 primitive (first 60 bits of md5) + a universal multiply-add-mod
family (operators/dedup.py), so the oracle SQL below reproduces the
exact same signatures, band buckets, candidate sets, and verified
outputs — the round-1 xxhash64 primitive had no DuckDB twin and forced
rows-only checks on the two flagship scale-path operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..operators.dedup import (
    incremental_minhash_dedup_pairs,
    BAND_MASK,
    P31,
    allpairs_jaccard_join,
    containment_allpairs_prefix,
    embedding_lsh_near_dup_pairs,
    embedding_near_dup_pairs,
    exact_dup_groups,
    fingerprint_dup_groups,
    minhash_dedup_pairs,
    minhash_params,
    semantic_dedup_flags,
    simhash_near_dup_pairs,
    winnow_fingerprints,
    containment_dedup_pairs,
)
from ..sources.tables import load_table
from .registry import query

def _sql_shingles(docs_sql: str = "documents") -> str:
    """DuckDB (doc_id, sh) distinct-shingle relation over ``docs_sql``
    (a table name or parenthesized subquery) — parameterized so the
    sampled-truth sweep mode can replay the same pipeline over a
    deterministic corpus subsample (see _TRUTH_SAMPLE_K)."""
    return f"""
    SELECT doc_id,
           list_distinct(
             list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> coalesce(array_to_string(toks[i:i+2], ' '), '')))
             AS sh
    FROM (SELECT doc_id,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                      THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
          FROM {docs_sql})
"""


_SQL_SHINGLES = _sql_shingles()

# ---------------------------------------------------------------------------
# Sampled-truth sweep mode (SPARK_GRAFT_TRUTH_SAMPLE_HEX): the queries
# whose DuckDB twins embed a quadratic all-pairs baseline
# (dedup_ngram_jaccard, dedup_family_recall's text family,
# dedup_minhash_recall_tuning, and since r11 the first-class prefix
# joins dedup_allpairs_jaccard_join / dedup_containment_prefix_join)
# exceed any reasonable oracle timeout at 5k docs (sf0.1). Setting the
# env var to K in 1..16 restricts THOSE queries — method and truth
# sides alike, on BOTH engines — to the deterministic hash-prefix doc
# sample
#   first-hex-char(md5(doc_id)) among the first K of '0123456789abcdef'
# i.e. ~K/16 of the corpus (K=3 at sf0.1 = 977 of 5000 docs), so the sf0.1
# sweep can hash-check the recall math at scale instead of skipping it.
# Read ONCE at import (the oracle strings are built at decoration time)
# — set the env var before importing __spark_entry__; unset (the driver
# path) everything below is the exact full-corpus pipeline. Every other
# query is unaffected.
TRUTH_SAMPLE_ENV = "SPARK_GRAFT_TRUTH_SAMPLE_HEX"


def _read_truth_sample_k() -> int:
    import os

    raw = os.environ.get(TRUTH_SAMPLE_ENV, "0")
    try:
        k = int(raw)
    except ValueError:
        # a malformed value silently mapping to 0 would hand the sweep
        # exactly the full-corpus quadratic oracle the mode exists to
        # avoid — fail loudly instead (review finding, r10b)
        raise ValueError(
            f"{TRUTH_SAMPLE_ENV}={raw!r} is not an integer (expected 0-16)"
        ) from None
    if not 0 <= k <= 16:
        raise ValueError(f"{TRUTH_SAMPLE_ENV}={k} out of range 0-16")
    return k


_TRUTH_SAMPLE_K = _read_truth_sample_k()


def _sql_docs() -> str:
    """``documents`` (full corpus), or the hash-prefix subsample when
    sampled-truth mode is on — the DuckDB twin of _truth_docs."""
    if _TRUTH_SAMPLE_K == 0:
        return "documents"
    return (
        "(SELECT * FROM documents WHERE strpos('0123456789abcdef', "
        f"substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= {_TRUTH_SAMPLE_K})"
    )


def _truth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table, restricted to the deterministic md5-prefix
    sample when sampled-truth mode is on (the Spark twin of
    _sql_docs; md5 of the same decimal doc_id string is identical
    across engines, so both sides keep exactly the same docs)."""
    docs = load_table(spark, sf_dir, "documents")
    if _TRUTH_SAMPLE_K == 0:
        return docs
    return docs.where(
        F.expr(
            "instr('0123456789abcdef', "
            "substring(md5(cast(doc_id as string)), 1, 1))"
        )
        <= F.lit(_TRUTH_SAMPLE_K)
    )


# Embedding-family twin of the doc sample (r14 VERDICT item 3): the
# ANN/semantic recall audits re-evaluate quadratic all-pairs cosine
# truths and 4-5-config method ladders over the embeddings corpus, the
# dominant cold-registry tail (~50s of BENCH_FULL at sf0.1). In
# sampled-truth sweep mode the WHOLE embedding similarity family —
# method AND truth, BOTH engines — runs over the deterministic
# hash-prefix vec sample, with the first _VEC_QUERY_KEEP vec_ids (the
# ANN query set) always kept so every query keeps a well-defined
# top-k. Unset (the driver posture) this is the identity.
_VEC_QUERY_KEEP = 5  # == similarity_queries._N_QUERIES (asserted there)


def _sql_vecs() -> str:
    """``embeddings`` (full corpus), or the hash-prefix subsample +
    always-kept query vectors when sampled-truth mode is on — the
    DuckDB twin of _truth_vecs."""
    if _TRUTH_SAMPLE_K == 0:
        return "embeddings"
    return (
        f"(SELECT * FROM embeddings WHERE vec_id < {_VEC_QUERY_KEEP} "
        "OR strpos('0123456789abcdef', "
        f"substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) <= {_TRUTH_SAMPLE_K})"
    )


def _truth_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings table, restricted to the deterministic md5-prefix
    sample (query vectors always kept) when sampled-truth mode is on —
    the Spark twin of _sql_vecs."""
    emb = load_table(spark, sf_dir, "embeddings")
    if _TRUTH_SAMPLE_K == 0:
        return emb
    return emb.where(
        (F.col("vec_id") < F.lit(_VEC_QUERY_KEEP))
        | (
            F.expr(
                "instr('0123456789abcdef', "
                "substring(md5(cast(vec_id as string)), 1, 1))"
            )
            <= F.lit(_TRUTH_SAMPLE_K)
        )
    )


def _hex60(x: str) -> str:
    """DuckDB twin of operators.dedup.hash60_expr: first 15 hex chars of
    md5 parsed as a bigint via a shift-sum over hex digits (list_sum
    accumulates in HUGEINT, so no intermediate overflow)."""
    return (
        "CAST(list_sum(list_transform(generate_series(1,15), "
        f"i -> CAST(strpos('0123456789abcdef', substr(md5({x}), i, 1)) - 1 AS BIGINT)"
        " << (4*(15-i)))) AS BIGINT)"
    )


def _minhash_bands_cte(
    num_hashes: int = 64,
    bands: int = 16,
    docs_sql: str = "documents",
) -> str:
    """The shared prefix of every MinHash oracle: shingles -> base hash
    -> universal-family grouped MINs -> Horner band buckets, as a CTE
    body ending at the ``bands`` relation. Factored out (r14) so the
    bucket-skew audit replays the IDENTICAL banding the pair oracles
    use."""
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
    return f"""sh AS ({_sql_shingles(docs_sql)}),
    tall AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    hb_t AS (SELECT doc_id, {_hex60('shingle')} % {P31} AS hb FROM tall),
    sig AS (SELECT doc_id,
             {mins}
            FROM hb_t GROUP BY doc_id),
    bands AS ({bands_sql})"""


def _minhash_lsh_oracle(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    cand_extra: str = "",
    docs_sql: str = "documents",
) -> str:
    """Full MinHash-LSH pipeline in DuckDB SQL: the shared banding
    prefix (_minhash_bands_cte) -> candidate self-join -> exact-Jaccard
    verification. Mirrors operators/dedup.py minhash_dedup_pairs step
    for step."""
    return f"""
    WITH {_minhash_bands_cte(num_hashes, bands, docs_sql)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id {cand_extra}
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT cand.doc_a, cand.doc_b,
             CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
                  THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
                  ELSE 0.0 END AS jaccard
      FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
                JOIN sh sb ON sb.doc_id = cand.doc_b
    ) WHERE jaccard >= {threshold}
    ORDER BY doc_a, doc_b
    """


def _simhash_oracle(bits: int = 60, chunks: int = 4, max_hamming: int = 3) -> str:
    """SimHash near-dup pipeline in DuckDB SQL: token hash60 -> per-bit
    +1/-1 votes -> bit assembly -> chunk buckets -> Hamming verify.
    Mirrors operators/dedup.py simhash_near_dup_pairs step for step."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    votes = ",\n             ".join(
        f"SUM(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    assemble = "\n              + ".join(
        f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    chunked = "\n      UNION ALL ".join(
        f"SELECT doc_id, sh, {i} AS chunk_idx, ((sh >> {chunk_bits * i}) & {mask}) AS chunk_val FROM sig"
        for i in range(chunks)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                         ELSE regexp_split_to_array(trim(text), '\\s+') END) AS tok
      FROM documents),
    hv_t AS (SELECT doc_id, {_hex60('tok')} AS hv FROM toks),
    votes AS (SELECT doc_id,
             {votes}
            FROM hv_t GROUP BY doc_id),
    sig AS (SELECT doc_id,
              {assemble}
            AS sh FROM votes),
    chunked AS ({chunked}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sh AS sh_a, b.sh AS sh_b
      FROM chunked a JOIN chunked b
        ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_hash_groups",
    oracle="""
    SELECT 'exact' AS method, md5(text) AS group_key,
           MIN(doc_id) AS representative_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 2
    UNION ALL
    SELECT 'fingerprint' AS method,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS group_key,
           MIN(doc_id) AS representative_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 2
    """,
)
def dedup_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-key dedup, both flavors in one result (discriminated by
    ``method``): 'exact' groups on md5(text) — the O(n) scalable
    primitive (one shuffle of 32-byte keys) — and 'fingerprint' groups
    on the case/punct/whitespace-normalized md5 (near-exact dedup).
    Each branch is its own scan+groupBy; the union concatenates
    partition-wise with no extra shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    exact = exact_dup_groups(docs).select(
        F.lit("exact").alias("method"),
        F.col("text_hash").alias("group_key"),
        "representative_id",
        "n_dups",
    )
    fp = fingerprint_dup_groups(docs).select(
        F.lit("fingerprint").alias("method"),
        F.col("fingerprint").alias("group_key"),
        "representative_id",
        "n_dups",
    )
    return exact.unionAll(fp)


def _ngram_jaccard_oracle() -> str:
    """DuckDB twin of ngram_jaccard_pairs — also the text-family truth
    set of dedup_family_recall, so it lives in a function. Runs over
    the hash-prefix doc sample in sampled-truth sweep mode
    (_TRUTH_SAMPLE_K) — this all-pairs join is exactly the piece that
    outgrows the sweep timeout at 10k docs."""
    return f"""
    WITH sh AS ({_sql_shingles(_sql_docs())})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                ELSE 0.0 END AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
               ELSE 0.0 END >= 0.5
    ORDER BY doc_a, doc_b
    """


def shared_jaccard_truth(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, n: int = 3
) -> DataFrame:
    """Managed-persist all-pairs n-gram Jaccard truth set — the
    quadratic exactness baseline consumed by THREE registered queries
    (dedup_ngram_jaccard itself, dedup_family_recall,
    dedup_minhash_recall_tuning); one evaluation per
    (application, corpus) instead of one per consumer (review
    finding, r9 — the _shared_shingles discipline applied to the
    truth relation). In sampled-truth sweep mode the join runs over
    the hash-prefix doc sample (key includes the sample setting, so a
    mode flip can't serve a stale relation).

    Since r10 the Spark side computes the truth with the EXACT
    prefix-filtered AllPairs join (operators/dedup.py
    allpairs_jaccard_join) instead of the brute-force cross product —
    identical pairs by construction AND by proof: the DuckDB oracle
    remains the brute-force all-pairs SQL, so every gate run
    hash-checks the prefix filter against an independent quadratic
    evaluation; equality with ngram_jaccard_pairs is also pinned in
    tests/test_dedup.py. This removes the engine's only corpus-scale
    quadratic plan (88 s of the sf0.1 BENCH_FULL tail) while keeping
    the truth exact."""
    from ..operators.dedup import allpairs_jaccard_join
    from .shared_cache import memo_persist

    return memo_persist(
        "jaccard_truth",
        spark,
        sf_dir,
        lambda: allpairs_jaccard_join(
            _truth_docs(spark, sf_dir),
            threshold=threshold,
            n=n,
            # the persisted (sample-scoped) shingle relation: the join
            # reads it three times (tall explode + both verify sides),
            # so injecting the managed persist saves two tokenize scans
            shingles=_truth_shingles(spark, sf_dir, n),
        ),
        params=(threshold, n, _TRUTH_SAMPLE_K),
    )


def shared_minhash_signatures(
    spark: SparkSession, sf_dir: str, num_hashes: int = 64
) -> DataFrame:
    """Managed-persist (doc_id_, sig) MinHash signature relation over
    the (possibly sampled) corpus — the banding ladder's three configs
    band the SAME 64-hash signatures three different ways, so the
    dominant shingle+hash pipeline is built once per (application,
    corpus), not once per rung (r9 VERDICT item 6). persist returns
    the identical plan a rebuild would, so oracle hashes cannot
    move."""
    from ..operators.dedup import minhash_signatures
    from .shared_cache import memo_persist

    return memo_persist(
        "minhash_sigs",
        spark,
        sf_dir,
        # derive from the persisted shingle table (signature-store
        # discipline, r11): one tokenize pass serves shingles AND
        # signatures; identical output pinned in tests/test_dedup.py
        lambda: minhash_signatures(
            _truth_docs(spark, sf_dir),
            num_hashes,
            shingles=_truth_shingles(spark, sf_dir),
        ),
        params=(num_hashes, _TRUTH_SAMPLE_K),
    )


@query("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) — the
    quadratic exactness baseline that MinHash-LSH approximates.
    Served from the managed truth persist (shared_jaccard_truth)."""
    return shared_jaccard_truth(spark, sf_dir)


# Shared verified-pairs stage (r5 VERDICT): dedup_minhash_lsh,
# dedup_cluster_components, and dedup_corpus_after_removal all consume
# the SAME verified-pairs DataFrame (threshold=0.5, 64 hashes, 16
# bands). Computing the MinHash chain once per (application, sf_dir,
# params) and persisting it turns three full-chain recomputations —
# and every repeat invocation — into one. The persist is the managed
# "minhash_pairs" family (plans/shared_cache.py): one entry, evicted on
# key change and dropped by release(), and a hit returns the identical
# plan a miss would build, so oracle hashes cannot move.
def shared_minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    from .shared_cache import memo_persist

    # r11 (VERDICT item 4): inject the managed signature + shingle
    # persists so the full chain tokenizes the corpus ONCE (sig stage
    # served from the persisted signatures, both verify sides from the
    # persisted shingle relation) instead of three times. SCOPE
    # GUARD: this relation feeds the NEVER-sampled production queries
    # (dedup_minhash_lsh, the cluster/graph family), so in
    # sampled-truth sweep mode the sampled "minhash_sigs" persist must
    # not leak in here — a full-corpus twin family is used instead.
    return memo_persist(
        "minhash_pairs",
        spark,
        sf_dir,
        lambda: minhash_dedup_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            signatures=_full_corpus_signatures(spark, sf_dir, num_hashes),
            shingles=_shared_shingles(spark, sf_dir),
        ),
        params=(threshold, num_hashes, bands),
    )


def _full_corpus_signatures(
    spark: SparkSession, sf_dir: str, num_hashes: int = 64
) -> DataFrame:
    """Full-corpus MinHash signatures regardless of sampled-truth mode
    — shared_minhash_signatures' scope follows _truth_docs (sampled in
    sweep mode), which is correct for the recall audits but would
    silently shrink the production verified-pairs relation. In full
    mode the two coincide, so the ONE "minhash_sigs" persist serves
    both; only in sweep mode does this build its own family (distinct
    family name: one-slot-per-family eviction must not thrash between
    the sampled and full relations)."""
    if _TRUTH_SAMPLE_K == 0:
        return shared_minhash_signatures(spark, sf_dir, num_hashes)
    from ..operators.dedup import minhash_signatures
    from .shared_cache import memo_persist

    return memo_persist(
        "minhash_sigs_full",
        spark,
        sf_dir,
        lambda: minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            num_hashes,
            shingles=_shared_shingles(spark, sf_dir),
        ),
        params=(num_hashes,),
    )


@query("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH banding (16x4) candidates, verified with exact
    3-gram Jaccard >= 0.5. The scale path: candidate generation is a
    shuffle on band hashes, not a cross join. Fully hash-verified: the
    DuckDB oracle reproduces signatures, buckets, and verification via
    the shared md5-derived hash family (round-1 upgrade from
    rows-only)."""
    return shared_minhash_pairs(spark, sf_dir)


def _cc_oracle(threshold: float = 0.5) -> str:
    """Connected components over the MinHash-LSH verified pairs, as an
    exact transitive closure: a recursive CTE floods every node's id
    through the (symmetrized) edge list and keeps the minimum — the
    same min-label semantics the Spark operator reaches iteratively
    (operators/graph.py). UNION (distinct) bounds the recursion."""
    return f"""
    WITH RECURSIVE mh AS ({_minhash_lsh_oracle(threshold=threshold)}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM mh
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM mh
    ),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach AS (
      SELECT id, id AS label FROM nodes
      UNION
      SELECT e.s AS id, r.label
      FROM reach r JOIN edges e ON e.d = r.id
    ),
    cc AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    ORDER BY doc_id
    """


# Shared cluster-assignments stage (r6 code-review finding): BOTH
# dedup_cluster_components and dedup_graph_stats consume the SAME
# connected-components output, and the CC rounds run eager actions at
# plan-BUILD time — recomputing them per query doubled the 4-round
# iteration in any run executing both. The managed "dedup_cc" family
# keeps one entry per (application, sf_dir), and the single definition
# also removes the copy-pasted max_iters/early_exit literals that could
# silently drift between the clusters query and its histogram readout.
def shared_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .shared_cache import memo_persist

    # max_iters=4 covers components far beyond the size-2..4 clusters
    # this corpus plants (2 rounds reach fixpoint at sf0.1); each round
    # is two shuffles, so the bound is also the query's cost knob.
    # early_exit opt-in: the certificate saves 1-2 rounds here
    # (measured diameter 2-3 vs the 4-round bound) at one scalar action
    # per round — the driver tolerates eager builds for this query.
    return memo_persist(
        "dedup_cc",
        spark,
        sf_dir,
        lambda: connected_components(
            shared_minhash_pairs(spark, sf_dir),
            src="doc_a",
            dst="doc_b",
            max_iters=4,
            early_exit=True,
        ),
    )


@query("dedup_cluster_components", oracle=_cc_oracle())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup CLUSTERS from the MinHash-LSH verified pairs —
    pairs alone can't answer "keep one per group" when near-dup
    relations chain (A~B, B~C but A!~C); min-label connected components
    (operators/graph.py, pointer-jumping propagation) assigns each
    clustered doc the component's min doc_id. The oracle computes the
    same closure exactly via a recursive CTE, so this is hash-verified
    end to end: shingles -> signatures -> bands -> verified pairs ->
    clusters."""
    return shared_cluster_assignments(spark, sf_dir)


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs, Hamming <= 3, candidates via
    15-bit chunk buckets (pigeonhole: hamming<=3 with 4 chunks forces at
    least one identical chunk). Fully hash-verified against the DuckDB
    oracle via the shared hash60 primitive."""
    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3, bits=60, chunks=4
    )


def _winnow_oracle(k: int = 3, window: int = 4) -> str:
    """DuckDB replay of winnow_fingerprints: ordered k-gram hashes,
    sliding-window minima, distinct sorted fingerprints, exploded."""
    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR length(trim(text)) = 0
                  THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(toks) - {k - 1}, 1)),
               i -> coalesce(array_to_string(toks[i:i+{k - 1}], ' '), '')) AS grams
      FROM t),
    h AS (
      SELECT doc_id,
             list_transform(grams, x -> {_hex60('x')} % {P31}) AS hs
      FROM g),
    w AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(hs) - {window - 1}, 1)),
               i -> list_min(hs[i:i+{window - 1}])) AS wins
      FROM h)
    SELECT doc_id, unnest(list_sort(list_distinct(wins))) AS fingerprint
    FROM w
    ORDER BY doc_id, fingerprint
    """


@query("text_winnow_fingerprints", oracle=_winnow_oracle())
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS): one (doc, fingerprint)
    row per retained window minimum — the inverted-index primitive for
    shared-passage detection. Fully hash-verified via hash60."""
    return winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=3, window=4
    )


def _embedding_lsh_oracle(
    threshold: float = 0.4,
    bands: int = 4,
    bits_per_band: int = 4,
    emb_sql: str = "embeddings",
) -> str:
    """DuckDB replay of embedding_lsh_near_dup_pairs: literal fixed-seed
    hyperplanes split into bands; candidates match ANY band exactly;
    exact cosine verifies candidates only. ``emb_sql`` lets the
    family-recall audit replay the method over the vec sample in
    sampled-truth sweep mode (the registered query stays full-corpus —
    banded LSH is the scale path, like dedup_minhash_lsh)."""
    from ..operators.similarity import hyperplanes
    from .similarity_queries import plane_bits_sql

    planes = hyperplanes(64, bands * bits_per_band, seed=42)

    def band_bits(b: int) -> str:
        return plane_bits_sql(
            planes[b * bits_per_band : (b + 1) * bits_per_band], "v"
        )

    banded = "\n      UNION ALL ".join(
        f"SELECT vec_id, v, {b} AS band_idx, concat({band_bits(b)}) AS band_sig FROM base"
        for b in range(bands)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {emb_sql}
    ),
    banded AS ({banded}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           list_cosine_similarity(va.v, vb.v) AS cosine
    FROM cand c JOIN base va ON va.vec_id = c.vec_a
                JOIN base vb ON vb.vec_id = c.vec_b
    WHERE list_cosine_similarity(va.v, vb.v) >= {threshold}
    ORDER BY vec_a, vec_b
    """


@query("dedup_embedding_lsh", oracle=_embedding_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded LSH — the scale path twin of
    dedup_embedding_cosine (all-pairs baseline): 4 bands x 4 sign bits,
    exact cosine only within band buckets. Hash-verified against the
    literal-hyperplane DuckDB replay."""
    return embedding_lsh_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        dim=64,
        bands=4,
        bits_per_band=4,
    )


def _embedding_cosine_oracle() -> str:
    """DuckDB twin of embedding_near_dup_pairs — also the embedding-
    family truth set of dedup_family_recall. Quadratic all-pairs
    baseline, so like dedup_ngram_jaccard it runs over the vec sample
    in sampled-truth sweep mode (both engines)."""
    return f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cosine
    FROM {_sql_vecs()} a JOIN {_sql_vecs()} b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY vec_a, vec_b
    """


@query("dedup_embedding_cosine", oracle=_embedding_cosine_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.4 on this corpus). Exact
    all-pairs baseline; the LSH-bucketed variant is
    sim_lsh_ann_topk. In sampled-truth sweep mode the all-pairs join
    runs over the deterministic vec sample (the dedup_ngram_jaccard
    posture — this is the embedding family's quadratic exactness
    baseline, not a scale path)."""
    return embedding_near_dup_pairs(
        _truth_vecs(spark, sf_dir), threshold=0.4
    )


@query(
    "dedup_incremental_minhash",
    oracle=_minhash_lsh_oracle(
        cand_extra="AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)"
    ),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup (operators/dedup.py
    incremental_minhash_dedup_pairs): near-dup pairs involving a newly
    arrived batch (doc_id % 5 == 0 simulates the day's ingest; the rest
    is the already-deduped store) — new×new and new×old verified pairs,
    with old×old pairs never generated: old-only LSH buckets are
    dropped before any pair expansion, so each ingest costs its own
    bucket footprint, not a corpus re-pairing. The companion of
    agg_incremental_kpi_merge for the dedup family. The DuckDB oracle
    runs the FULL candidate join restricted to pairs touching the
    batch — same pairs, recompute plan — and hash-checks signatures,
    buckets, and Jaccard end to end.

    The signature and shingle relations are injected from the managed
    full-corpus persists (the signature-store read posture the operator
    docstring describes — at original ingest these tables were written
    once; recompute ≡ read because the hash family is deterministic),
    so a composed run re-tokenizes the corpus zero extra times for this
    query and repeated invocations hit the persisted store instead of
    re-hashing 64 mins per shingle. Injection defaults to byte-identical
    fresh plans, so the oracle hash cannot move (the minhash_dedup_pairs
    contract, pinned in tests/test_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_minhash_dedup_pairs(
        docs,
        is_new=lambda c: c % 5 == 0,
        threshold=0.5,
        signatures=_full_corpus_signatures(spark, sf_dir),
        shingles=_shared_shingles(spark, sf_dir),
    )


def _containment_oracle(
    threshold: float = 0.6, df_min: int = 2, df_max: int = 10
) -> str:
    """DuckDB replay of operators.dedup.containment_dedup_pairs:
    distinct shingle sets -> document frequencies -> rare-shingle
    blocking (candidate iff a shared shingle has df in the band) ->
    exact containment verification of candidates only."""
    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    shd AS (SELECT doc_id, sh FROM sh),  -- sh arrays already distinct
    tall AS (SELECT doc_id, unnest(sh) AS shingle FROM shd),
    df AS (
      SELECT shingle FROM (
        SELECT shingle, count(*) AS df FROM tall GROUP BY 1)
      WHERE df BETWEEN {df_min} AND {df_max}
    ),
    rare AS (SELECT t.doc_id, t.shingle FROM tall t JOIN df USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_shared, n_a, n_b, containment FROM (
      SELECT cand.doc_a, cand.doc_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_shared,
             CAST(len(sa.sh) AS BIGINT) AS n_a,
             CAST(len(sb.sh) AS BIGINT) AS n_b,
             CASE WHEN least(len(sa.sh), len(sb.sh)) > 0
                  THEN CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                       / CAST(least(len(sa.sh), len(sb.sh)) AS DOUBLE)
                  ELSE 0.0 END AS containment
      FROM cand JOIN shd sa ON sa.doc_id = cand.doc_a
                JOIN shd sb ON sb.doc_id = cand.doc_b
    )
    WHERE containment >= {threshold}
    ORDER BY doc_a, doc_b
    """


def _shared_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Managed-persist (did, sh) distinct-shingle relation — the
    signature-store table production dedup materializes once per
    corpus (operators/dedup.py signature_store_relations persists
    exactly this alongside band rows). Shared by the containment
    blocker and its recall audit's all-pairs baseline; persist returns
    the identical plan a rebuild would, so oracle hashes cannot
    move."""
    from ..operators.dedup import shingle_relation
    from .shared_cache import memo_persist

    return memo_persist(
        "shingles",
        spark,
        sf_dir,
        lambda: shingle_relation(load_table(spark, sf_dir, "documents"), n),
        params=(n,),
    )


def _truth_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Shingle relation matching _truth_docs' scope: the full-corpus
    _shared_shingles persist when sampling is off, a separately-keyed
    sampled persist otherwise — injecting the FULL relation into a
    sampled rung would pay two full-corpus tokenize scans per
    verification join for nothing (review finding, r10b). The
    containment family always reads the full-corpus persist; only the
    sampled recall audits read this one."""
    if _TRUTH_SAMPLE_K == 0:
        return _shared_shingles(spark, sf_dir, n)
    from ..operators.dedup import shingle_relation
    from .shared_cache import memo_persist

    return memo_persist(
        "shingles_sampled",
        spark,
        sf_dir,
        lambda: shingle_relation(_truth_docs(spark, sf_dir), n),
        params=(n, _TRUTH_SAMPLE_K),
    )


@query("dedup_containment_pairs", oracle=_containment_oracle())
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py
    containment_dedup_pairs): |A∩B|/min(|A|,|B|) >= 0.6 pairs found by
    rare-shingle blocking (AllPairs/PPJoin prefix-filter discipline) —
    the subset/quote detector Jaccard misses at size skew, with the df
    cap as the skew guard. Fully hash-verified: the oracle replays
    blocking and verification over the same distinct shingle sets.
    The shingle relation comes from the managed signature-store
    persist (_shared_shingles) instead of a per-invocation
    checkpoint."""
    return containment_dedup_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.6,
        shingles=_shared_shingles(spark, sf_dir),
    )


def _allpairs_jaccard_oracle(threshold: float = 0.7) -> str:
    """Brute-force all-pairs n-gram Jaccard listing at ``threshold`` —
    the DuckDB cross-product twin of allpairs_jaccard_join, so every
    gate run proves the prefix filter's exactness at a SECOND
    threshold (0.7; the 0.5 point is dedup_ngram_jaccard). Runs over
    the hash-prefix doc sample in sampled-truth sweep mode — the
    quadratic side here is the oracle, exactly what the mode exists to
    bound."""
    return f"""
    WITH sh AS ({_sql_shingles(_sql_docs())}),
    scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                  THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                              AS DOUBLE)
                  ELSE 0.0 END AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM scored
    WHERE jaccard >= {threshold}
    ORDER BY doc_a, doc_b
    """


@query("dedup_allpairs_jaccard_join", oracle=_allpairs_jaccard_oracle())
def dedup_allpairs_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT prefix-filtered AllPairs/PPJoin Jaccard self-join as a
    first-class query (r10 VERDICT item 2): since r10 this operator IS
    the production exact-dedup scale path (the corpus-scale answer to
    reference A6/dropDuplicates for near-duplicates), but it was only
    exercised as truth-build machinery inside other queries' oracles.
    Registered here at threshold 0.7 — a different prefix length and
    S-curve point than the 0.5 truth family — with the full pair
    LISTING (ids + exact Jaccard) hash-checked against the brute-force
    cross-product oracle on every gate run.

    Scale shape: candidates come from shared prefix shingles (cost
    tracks Σ C(df,2) over PREFIX shingles; see SCALE.md), never a
    cross product; the higher threshold shortens every prefix
    (|d|−ceil(0.7|d|)+1 ≈ 0.3|d|), so this point is strictly cheaper
    than the 0.5 baseline."""
    return allpairs_jaccard_join(
        _truth_docs(spark, sf_dir),
        threshold=0.7,
        shingles=_truth_shingles(spark, sf_dir),
    )


def _containment_allpairs_oracle(threshold: float = 0.5) -> str:
    """Brute-force all-pairs containment listing at ``threshold`` — the
    DuckDB cross-product twin of containment_allpairs_prefix (no
    blocking, no df band: every qualifying pair). Sampled-truth-mode
    aware like _allpairs_jaccard_oracle."""
    return f"""
    WITH sh AS ({_sql_shingles(_sql_docs())}),
    scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
             CAST(len(a.sh) AS BIGINT) AS n_a,
             CAST(len(b.sh) AS BIGINT) AS n_b,
             CASE WHEN least(len(a.sh), len(b.sh)) > 0
                  THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE)
                  ELSE 0.0 END AS containment
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_shared, n_a, n_b, containment FROM scored
    WHERE containment >= {threshold}
    ORDER BY doc_a, doc_b
    """


@query("dedup_containment_prefix_join", oracle=_containment_allpairs_oracle())
def dedup_containment_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT asymmetric containment prefix join as a first-class
    query (r10 VERDICT item 2, containment twin of
    dedup_allpairs_jaccard_join): index ALL shingles, probe with the
    smaller side's prefix (operators/dedup.py
    containment_allpairs_prefix). Registered at threshold 0.5 — looser
    than the blocked 0.6 production query (dedup_containment_pairs),
    and EXACT where that one trades recall for the df-band skew guard
    — with the full listing (ids, set sizes, overlap, containment)
    hash-checked against the brute-force cross-product oracle."""
    return containment_allpairs_prefix(
        _truth_docs(spark, sf_dir),
        threshold=0.5,
        shingles=_truth_shingles(spark, sf_dir),
    )


def _containment_recall_oracle(threshold: float = 0.6) -> str:
    """Truth = all-pairs containment (no blocking); method = the
    rare-shingle-blocked _containment_oracle. All counts come from ONE
    full-outer pass over the two pair sets, so each CTE is referenced
    exactly once — under DuckDB's CTE inlining the quadratic truth
    join is therefore evaluated once, not once per scalar subquery
    (the k-core unrolled-oracle lesson; AS MATERIALIZED is avoided
    here because combining it with the blocked side's nested WITH
    trips a DuckDB internal error)."""
    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CASE WHEN least(len(a.sh), len(b.sh)) > 0
                 THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE)
                 ELSE 0.0 END >= {threshold}
    ),
    got AS (SELECT doc_a, doc_b FROM ({_containment_oracle(threshold)})),
    merged AS (
      SELECT g.doc_a IS NOT NULL AS in_got, t.doc_a IS NOT NULL AS in_truth
      FROM got g FULL OUTER JOIN truth t
        ON g.doc_a = t.doc_a AND g.doc_b = t.doc_b
    )
    SELECT 'containment_blocked_vs_exact' AS family,
           CAST(count(CASE WHEN in_got THEN 1 END) AS BIGINT) AS n_method_pairs,
           CAST(count(CASE WHEN in_truth THEN 1 END) AS BIGINT) AS n_truth_pairs,
           CAST(count(CASE WHEN in_got AND in_truth THEN 1 END) AS BIGINT) AS hits,
           CAST(count(CASE WHEN in_truth AND NOT in_got THEN 1 END) AS BIGINT)
             AS missed,
           CAST(count(CASE WHEN in_got AND in_truth THEN 1 END) AS DOUBLE)
             / CAST(count(CASE WHEN in_truth THEN 1 END) AS DOUBLE) AS pair_recall
    FROM merged
    """


@query("dedup_containment_recall", oracle=_containment_recall_oracle())
def dedup_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-recall audit of the rare-shingle-blocked containment join
    against the exact all-pairs containment baseline — closes the one
    unmeasured approximation in the dedup family (r8 VERDICT item 4):
    the df∈[2,10] blocker provably misses a contained doc whose every
    shingle is either unique (df=1, nothing to collide on... impossible
    for a true subset, since the container shares them) or common
    (df>10, stopword-shingles never block). This pins found/missed
    counts and recall to a hash-checked value, the same discipline as
    dedup_family_recall / sim_ann_recall. Precision is 1.0 by
    construction (candidates are verified with the exact measure).

    The truth is the EXACT all-pairs containment, computed since r10
    by asymmetric prefix filtering (operators/dedup.py
    containment_allpairs_prefix — provably identical output to the
    brute-force containment_all_pairs, which remains the semantic spec
    and this query's DuckDB oracle replay, so every gate run
    cross-checks the prefix scheme). All counts come from ONE
    full-outer pass over the two pair sets (mirroring the oracle), so
    each member pipeline is evaluated once, not once per count (review
    finding, r9)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shared_shingles(spark, sf_dir)
    got = (
        containment_dedup_pairs(docs, threshold=0.6, shingles=sh)
        .select("doc_a", "doc_b")
        .withColumn("_in_got", F.lit(True))
    )
    truth = (
        containment_allpairs_prefix(docs, threshold=0.6, shingles=sh)
        .select("doc_a", "doc_b")
        .withColumn("_in_truth", F.lit(True))
    )
    merged = got.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("_in_got", F.lit(False)).alias("in_got"),
        F.coalesce("_in_truth", F.lit(False)).alias("in_truth"),
    )
    # count(CASE WHEN ...) not sum(cast): COUNT over an empty merged
    # set is 0 in both engines, where SUM would be NULL in Spark only
    # — a false hash mismatch on a pair-free corpus (review finding,
    # r9)
    hit = F.when(F.col("in_got") & F.col("in_truth"), F.lit(1))
    return merged.agg(
        F.count(F.when(F.col("in_got"), F.lit(1)))
        .cast("bigint")
        .alias("n_method_pairs"),
        F.count(F.when(F.col("in_truth"), F.lit(1)))
        .cast("bigint")
        .alias("n_truth_pairs"),
        F.count(hit).cast("bigint").alias("hits"),
        F.count(F.when(F.col("in_truth") & ~F.col("in_got"), F.lit(1)))
        .cast("bigint")
        .alias("missed"),
        (
            F.count(hit).cast("double")
            / F.count(F.when(F.col("in_truth"), F.lit(1))).cast("double")
        ).alias("pair_recall"),
    ).select(
        F.lit("containment_blocked_vs_exact").alias("family"),
        "n_method_pairs",
        "n_truth_pairs",
        "hits",
        "missed",
        "pair_recall",
    )


# (label, bands) — the LSH banding ladder at num_hashes=64: rows_per_band
# = 64/bands drives the match-probability S-curve 1-(1-s^r)^b. More
# bands (fewer rows each) = looser blocking = recall up, candidates up.
# The strict end (2 bands x 32 rows) visibly LOSES near-exact pairs on
# this corpus (s ~ 0.95-0.99: 1-(1-s^32)^2 drops well below 1), so the
# ladder pins a real S-curve, not three 1.0s.
_MINHASH_TUNING_CONFIGS = (
    ("bands02_rows32", 2),
    ("bands04_rows16", 4),
    ("bands16_rows4", 16),
)


def _minhash_tuning_oracle(threshold: float = 0.5) -> str:
    """DuckDB replay of the banding ladder: each config's FULL MinHash
    pipeline (shared _minhash_lsh_oracle builder) unioned under its
    config label, one LEFT JOIN against the all-pairs Jaccard truth,
    and recall + delta vs the production bands=16 config — the
    _ann_tuning_oracle shape on the dedup family."""
    withs = ",\n    ".join(
        f"cfg_{label} AS (SELECT doc_a, doc_b FROM "
        f"({_minhash_lsh_oracle(bands=bands, threshold=threshold, docs_sql=_sql_docs())}))"
        for label, bands in _MINHASH_TUNING_CONFIGS
    )
    unioned = "\n      UNION ALL\n      ".join(
        f"""SELECT '{label}' AS config,
                 CAST({bands} AS BIGINT) AS bands,
                 CAST({64 // bands} AS BIGINT) AS rows_per_band,
                 doc_a, doc_b
          FROM cfg_{label}"""
        for label, bands in _MINHASH_TUNING_CONFIGS
    )
    return f"""
    WITH truth AS (SELECT doc_a, doc_b FROM ({_ngram_jaccard_oracle()})),
    {withs},
    mh AS (
      {unioned}
    ),
    rec AS (
      SELECT a.config, a.bands, a.rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_method_pairs,
             CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM mh a LEFT JOIN truth t
        ON a.doc_a = t.doc_a AND a.doc_b = t.doc_b
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs FROM truth),
    scored AS (
      SELECT config, bands, rows_per_band, n_method_pairs, hits,
             n_truth_pairs,
             CAST(hits AS DOUBLE) / CAST(n_truth_pairs AS DOUBLE)
               AS pair_recall
      FROM rec CROSS JOIN tot
    ),
    base AS (
      SELECT pair_recall AS base_recall FROM scored
      WHERE config = 'bands16_rows4'
    )
    SELECT config, bands, rows_per_band, n_method_pairs, hits,
           n_truth_pairs, pair_recall,
           pair_recall - base_recall AS delta_vs_b16
    FROM scored CROSS JOIN base
    ORDER BY config
    """


@query("dedup_minhash_recall_tuning", oracle=_minhash_tuning_oracle())
def dedup_minhash_recall_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH BANDING story as checked numbers — the dedup
    twin of sim_ann_recall_tuning: at fixed num_hashes=64, the
    bands/rows_per_band split is THE recall/cost knob (candidate-match
    probability 1-(1-s^r)^b), and this ladder pins each config's pair
    recall against the exact all-pairs Jaccard truth plus its delta vs
    the production bands=16 config. Precision is 1.0 by construction
    for every config (exact-Jaccard verification), so n_method_pairs
    <= n_truth_pairs and recall is the only number that can move —
    a banding regression shifts a hash-checked double, not prose.

    Plan shape: the three config pipelines union under literal labels,
    recall is ONE left join + groupBy against the truth relation, and
    the truth (quadratic all-pairs — a verification input, like every
    exactness baseline here) comes from the managed persist
    (shared_jaccard_truth) its other consumers also read, so one
    evaluation serves the join, the denominator count, and the sibling
    recall queries. The three rungs band the SAME 64-hash signatures,
    so they read one persisted signature relation
    (shared_minhash_signatures) and one persisted shingle relation
    (_shared_shingles) instead of building the corpus-scan stages once
    per rung (r9 VERDICT item 6); the production bands=16 rung still
    reuses the family-wide verified-pairs persist when available
    (full-corpus mode). In sampled-truth sweep mode
    (SPARK_GRAFT_TRUTH_SAMPLE_HEX) every rung and the truth run over
    the same deterministic hash-prefix doc sample, which bounds the
    oracle's quadratic replay at sf0.1."""
    docs = _truth_docs(spark, sf_dir)
    sigs = shared_minhash_signatures(spark, sf_dir, num_hashes=64)
    sh = _truth_shingles(spark, sf_dir)
    mh = None
    for label, bands in _MINHASH_TUNING_CONFIGS:
        pairs = (
            shared_minhash_pairs(spark, sf_dir, bands=bands)
            if bands == 16 and _TRUTH_SAMPLE_K == 0
            else minhash_dedup_pairs(
                docs,
                threshold=0.5,
                num_hashes=64,
                bands=bands,
                signatures=sigs,
                shingles=sh,
            )
        )
        part = pairs.select(
            F.lit(label).alias("config"),
            F.lit(bands).cast("bigint").alias("bands"),
            F.lit(64 // bands).cast("bigint").alias("rows_per_band"),
            "doc_a",
            "doc_b",
        )
        mh = part if mh is None else mh.unionByName(part)
    truth = shared_jaccard_truth(spark, sf_dir).select("doc_a", "doc_b")
    rec = (
        mh.join(truth.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("config", "bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_method_pairs"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits"),
        )
    )
    tot = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth_pairs"))
    # 1-row totals ride explicit broadcasts: without the hint Spark
    # plans a CartesianProduct for the unconditioned inner join (the
    # honest PLANS.txt filter surfaced it, r10) — same rows, wrong
    # plan shape for the documented 1-row-crossJoin pattern
    scored = rec.crossJoin(F.broadcast(tot)).withColumn(
        "pair_recall",
        F.col("hits").cast("double") / F.col("n_truth_pairs").cast("double"),
    )
    base = scored.filter(F.col("config") == "bands16_rows4").select(
        F.col("pair_recall").alias("base_recall")
    )
    return (
        scored.crossJoin(F.broadcast(base))
        .select(
            "config",
            "bands",
            "rows_per_band",
            "n_method_pairs",
            "hits",
            "n_truth_pairs",
            "pair_recall",
            (F.col("pair_recall") - F.col("base_recall")).alias("delta_vs_b16"),
        )
        .orderBy("config")
    )


def _canonical_oracle() -> str:
    """DuckDB replay of dedup_cluster_canonical: the recursive-CTE
    transitive closure (same as _cc_oracle) joined with the documents'
    length column; per cluster, keep the longest doc (doc_id tiebreak
    ascending)."""
    return f"""
    WITH RECURSIVE mh AS ({_minhash_lsh_oracle()}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM mh
      UNION ALL
      SELECT doc_b AS s, doc_a AS d FROM mh
    ),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach AS (
      SELECT id, id AS label FROM nodes
      UNION
      SELECT e.s AS id, r.label
      FROM reach r JOIN edges e ON e.d = r.id
    ),
    cc AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT cc.cluster_id, cc.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY cc.cluster_id
               ORDER BY d.n_chars DESC, cc.doc_id) AS rnk
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_n_chars,
           CAST(cnt AS BIGINT) AS n_members,
           CAST(cnt - 1 AS BIGINT) AS n_dropped
    FROM scored
    JOIN (SELECT cluster_id AS c2, count(*) AS cnt FROM scored GROUP BY 1)
      ON cluster_id = c2
    WHERE rnk = 1
    ORDER BY cluster_id
    """


@query("dedup_cluster_canonical", oracle=_canonical_oracle())
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based canonical selection per dup cluster — the KEEP
    decision a production dedup actually ships: within each transitive
    near-dup cluster, retain the doc scoring best on a quality proxy
    (here n_chars — the longest variant usually subsumes truncated
    near-dups) with doc_id as the deterministic tiebreak, and report
    how many members were dropped. Complements
    dedup_corpus_after_removal (which keeps the min-id representative):
    same cluster machinery, the policy every data team overrides first.

    Scale shape: consumes the shared persisted cluster assignments
    (one CC computation across the whole dedup family), joins the
    cluster-member rows back to the documents table on doc_id (the
    clustered set is the tiny side — near-dup members only — so AQE
    broadcasts it), and the argmax is a row_number window partitioned
    by cluster_id over cluster-member-count rows."""
    cc = shared_cluster_assignments(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = cc.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        scored.select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_n_chars"),
            F.row_number().over(w).alias("_rnk"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_members"),
        )
        .where(F.col("_rnk") == 1)
        .select(
            "cluster_id",
            "kept_doc_id",
            "kept_n_chars",
            "n_members",
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _sql_semantic_assign(
    n_centroids: int, suffix: str = "", n_assign: int = 1
) -> str:
    """cb/assign CTE fragments (comma-terminated) for the deterministic
    SemDeDup assignment — first-``n_centroids``-by-id codebook (the
    _ivf_oracle init), top-``n_assign`` cosine with the first-index
    tie-break (rn = 1 is the argmax; rn <= k is the multi-assignment
    of similarity.ivf_multi_assignments — same (cosine DESC,
    centroid_id ASC) rank order on both engines).
    ONE definition serves both the flags oracle and every recall-ladder
    rung (review finding, r11: the duplicated copies could drift).
    ``suffix`` disambiguates CTE names when one query carries several
    assignments."""
    return f"""
    cb{suffix} AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS centroid_id,
             v AS cvec
      FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_centroids})
    ),
    assign{suffix} AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT b.vec_id, b.v, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY list_cosine_similarity(b.v, c.cvec) DESC,
                                           c.centroid_id) AS rn
        FROM base b CROSS JOIN cb{suffix} c
      ) WHERE rn <= {n_assign}
    ),"""


def _semantic_dedup_oracle(threshold: float = 0.4, n_centroids: int = 16) -> str:
    """DuckDB replay of semantic_dedup_flags: deterministic IVF
    codebook + argmax assignment (_sql_semantic_assign), within-cluster
    smaller-id drop rule, one flag row per vector.
    list_cosine_similarity over DOUBLE[] is bit-identical to Spark's
    zip_with+aggregate fold (the sim_* oracle precedent)."""
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_sql_semantic_assign(n_centroids)}
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
    )
    SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id,
           (d.vec_id IS NULL) AS keep
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    ORDER BY a.vec_id
    """


@query("dedup_semantic_clusters", oracle=_semantic_dedup_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.py
    semantic_dedup_flags): IVF-cluster the embedding space against the
    deterministic shared codebook, drop any vector within cosine 0.4
    of a smaller-id member of its own cluster, emit one
    (vec_id, centroid_id, keep) flag row per vector — the keep-list is
    the semantically deduped corpus. The within-cluster restriction is
    what makes the operation linear-ish at 100 TB (per-cluster C(m,2)
    with n_centroids as the knob, vs the all-pairs baseline's N^2);
    the baseline (dedup_embedding_cosine) measures what the cluster
    blocking can miss across cluster boundaries.

    The argmax assignment relation goes through the managed persist
    scope (the codebook/signature-store posture): it feeds BOTH the
    pair source and the final flag join, so left lazy it was evaluated
    twice per action — 16 corpus-wide cosine argmaxes each time — and
    re-fit on every repeat. The persist build is the identical
    ivf_assignments plan, so the oracle hash cannot move."""
    from ..operators.similarity import ivf_assignments
    from .shared_cache import memo_persist

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = memo_persist(
        "semantic_assign16",
        spark,
        sf_dir,
        lambda: ivf_assignments(emb, 16)[0],
    )
    return semantic_dedup_flags(emb, threshold=0.4, assigned=assigned)


def _semantic_recall_oracle(threshold: float = 0.4) -> str:
    """The three-rung SemDeDup ladder — n_centroids coarse k=4 vs
    production k=16 (the banding-ladder discipline applied to the
    cluster knob) plus the r12 MULTI-ASSIGNMENT rung k=16/p=2 (each
    vector in its 2 nearest clusters; got-pairs deduplicated since a
    pair can qualify in every shared cluster) — with ONE shared
    all-pairs truth CTE: the quadratic cosine join is the oracle's
    dominant cost and must be evaluated once for all rungs (review
    finding, r11 — the per-rung form paid it twice), the same
    single-truth-evaluation discipline the Spark side's
    memo_persist("semantic_truth") applies."""

    def rung(n_centroids: int, suffix: str, n_assign: int = 1) -> str:
        label = f"semantic_k{n_centroids:02d}" + (
            f"_p{n_assign}" if n_assign > 1 else ""
        )
        distinct = "DISTINCT " if n_assign > 1 else ""
        return f"""
    got{suffix} AS (
      SELECT {distinct}a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assign{suffix} a JOIN assign{suffix} b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
    ),
    merged{suffix} AS (
      SELECT g.vec_a IS NOT NULL AS in_got, t.vec_a IS NOT NULL AS in_truth
      FROM got{suffix} g FULL OUTER JOIN truth t
        ON g.vec_a = t.vec_a AND g.vec_b = t.vec_b
    ),
    counts{suffix} AS (
      SELECT '{label}' AS family,
             CAST(count(CASE WHEN in_got THEN 1 END) AS BIGINT) AS n_method_pairs,
             CAST(count(CASE WHEN in_truth THEN 1 END) AS BIGINT) AS n_truth_pairs,
             CAST(count(CASE WHEN in_got AND in_truth THEN 1 END) AS BIGINT) AS hits,
             CAST(count(CASE WHEN in_truth AND NOT in_got THEN 1 END) AS BIGINT)
               AS missed,
             CAST(count(CASE WHEN in_got AND in_truth THEN 1 END) AS DOUBLE)
               / CAST(count(CASE WHEN in_truth THEN 1 END) AS DOUBLE) AS pair_recall
      FROM merged{suffix}
    ),"""

    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM {_sql_vecs()}),
    truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM base a JOIN base b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {threshold}
    ),
    {_sql_semantic_assign(4, "4")}{rung(4, "4")}
    {_sql_semantic_assign(16, "16")}{rung(16, "16")}
    {_sql_semantic_assign(16, "16p2", n_assign=2)}{rung(16, "16p2", n_assign=2)}
    final AS (
      SELECT * FROM counts4 UNION ALL SELECT * FROM counts16
      UNION ALL SELECT * FROM counts16p2
    )
    SELECT * FROM final ORDER BY family
    """


@query("dedup_semantic_recall", oracle=_semantic_recall_oracle())
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-recall LADDER of the SemDeDup cluster blocking against the
    exact all-pairs cosine baseline — the family discipline (every
    approximate dedup path ships with a hash-checked recall number,
    and knobs get ladders, like the MinHash banding ladder): the
    within-cluster restriction provably misses near-dup pairs whose
    members argmax to DIFFERENT centroids (boundary pairs), and the
    two rungs pin the n_centroids recall/cost trade to verified values
    — coarse k=4 (bigger clusters: recall 0.39 at sf0.1, cost
    ~C(N/4,2) per cluster) vs the production k=16 (recall 0.20, cost
    ~C(N/16,2)) at the corpus's near-dup threshold 0.4, plus the r12
    MULTI-ASSIGNMENT rung k=16/p=2 (r11 VERDICT item 3: each vector
    assigned to its 2 nearest centroids, intra-cluster pairs unioned
    and deduplicated — the standard boundary-miss mitigation at ≤4×
    pair cost, same bucket machinery). Low absolute recall at this
    threshold is the honest property of cluster blocking on a
    moderate-similarity pair set — SemDeDup's own regime is tight
    high-cosine duplicates, which concentrate inside single clusters;
    the knob evidence (recall monotone in cluster size; the p=2 rung
    above the p=1 rung at the same n_centroids) is what the ladder
    pins. Precision is 1.0 by construction. One full-outer pass per
    rung, and the quadratic all-pairs truth is evaluated ONCE for all
    rungs via the managed persist. In sampled-truth sweep mode the
    whole ladder — all-pairs truth AND every rung's assignments/pairs,
    both engines — runs over the deterministic vec sample (r14
    VERDICT item 3: this audit's quadratic truth was the second-
    largest cold-registry entry)."""
    from ..operators.dedup import _semantic_cluster_pairs
    from ..operators.similarity import ivf_assignments, ivf_multi_assignments

    emb = _truth_vecs(spark, sf_dir)
    # ONE all-pairs truth evaluation shared by both rungs via the
    # managed persist (it is the quadratic side of this audit)
    from .shared_cache import memo_persist

    truth = memo_persist(
        "semantic_truth",
        spark,
        sf_dir,
        lambda: embedding_near_dup_pairs(emb, threshold=0.4).select(
            "vec_a", "vec_b"
        ),
        params=(_TRUTH_SAMPLE_K,),
    ).withColumn("_in_truth", F.lit(True))

    def rung(n_centroids: int, n_assign: int = 1) -> DataFrame:
        if n_assign > 1:
            assigned, _ = ivf_multi_assignments(emb, n_centroids, n_assign)
        else:
            assigned, _ = ivf_assignments(emb, n_centroids)
        got = _semantic_cluster_pairs(
            assigned, threshold=0.4, dedup_pairs=n_assign > 1
        ).withColumn("_in_got", F.lit(True))
        merged = got.join(truth, ["vec_a", "vec_b"], "full_outer").select(
            F.coalesce("_in_got", F.lit(False)).alias("in_got"),
            F.coalesce("_in_truth", F.lit(False)).alias("in_truth"),
        )
        hit = F.when(F.col("in_got") & F.col("in_truth"), F.lit(1))
        return merged.agg(
            F.count(F.when(F.col("in_got"), F.lit(1)))
            .cast("bigint")
            .alias("n_method_pairs"),
            F.count(F.when(F.col("in_truth"), F.lit(1)))
            .cast("bigint")
            .alias("n_truth_pairs"),
            F.count(hit).cast("bigint").alias("hits"),
            F.count(F.when(F.col("in_truth") & ~F.col("in_got"), F.lit(1)))
            .cast("bigint")
            .alias("missed"),
            (
                F.count(hit).cast("double")
                / F.count(F.when(F.col("in_truth"), F.lit(1))).cast("double")
            ).alias("pair_recall"),
        ).select(
            F.lit(
                f"semantic_k{n_centroids:02d}"
                + (f"_p{n_assign}" if n_assign > 1 else "")
            ).alias("family"),
            "n_method_pairs",
            "n_truth_pairs",
            "hits",
            "missed",
            "pair_recall",
        )

    return (
        rung(4)
        .unionByName(rung(16))
        .unionByName(rung(16, n_assign=2))
        .orderBy("family")
    )


@query(
    "dedup_lsh_bucket_skew",
    oracle=f"""
    WITH {_minhash_bands_cte()},
    occ AS (
      SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS s
      FROM bands GROUP BY 1, 2)
    SELECT s AS bucket_size,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(*) * ((s * (s - 1)) // 2) AS BIGINT)
             AS n_candidate_pairs
    FROM occ
    GROUP BY s
    ORDER BY s
    """,
)
def dedup_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BUCKET-OCCUPANCY SKEW audit: the size distribution of the
    (band, bucket) hash buckets the MinHash pipeline joins on —
    bucket_size s -> how many buckets hold exactly s docs, and the
    s·(s−1)/2 candidate pairs each contributes. THE operational
    health check of banded dedup at 100 TB: candidate cost is
    Σ s², so one templated-boilerplate mega-bucket dominates the whole
    join (exactly the skew the production path's hot-bucket cap
    guards); this query puts the distribution itself behind a hash
    gate instead of trusting the cap's assumption. Replays the
    IDENTICAL banding the pair oracles use (_minhash_bands_cte — one
    definition, zero drift).

    Exactness: bucket sizes, bucket counts, and the implied candidate
    pair counts are all exact integers — no floats anywhere.

    Scale shape (100 TB): signatures come from the managed full-corpus
    persist (one tokenize+hash per corpus); banding is a projection;
    the occupancy is ONE groupBy on (band, bucket) with map-side
    combine and the size histogram a second tiny aggregate. Nothing
    here expands candidates — this audits the join without running
    it."""
    from ..operators.dedup import _banded_rows

    sig = _full_corpus_signatures(spark, sf_dir)
    banded = _banded_rows(sig, 64, 16)
    occ = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    return (
        occ.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .select(
            F.col("s").alias("bucket_size"),
            "n_buckets",
            (
                F.col("n_buckets")
                * F.expr("(s * (s - 1)) div 2")
            )
            .cast("bigint")
            .alias("n_candidate_pairs"),
        )
        .orderBy("bucket_size")
    )

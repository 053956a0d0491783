"""Deduplication over the documents table (north-star extension,
BASELINE.json): exact, fingerprint, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Design for 100 TB:
- exact/fingerprint dedup is a hash groupBy — one shuffle on a 32-char
  key, partial aggregation upstream; this is THE scalable primitive.
- all-pairs similarity is quadratic and only used as the small-scale
  exactness baseline; the scale path is candidate generation by
  bucketing (MinHash bands / SimHash chunks), which turns O(n^2) into a
  shuffle-on-bucket-key equi-join + per-bucket verification.
- everything is built-in expressions (md5-derived integer hashes, array
  HOFs) — no Python in the hot path. The hash primitive is hash60
  (first 60 bits of md5) + a universal multiply-add-mod family, chosen
  so DuckDB computes bit-identical signatures and the SQL oracle can
  hash-verify MinHash-LSH and SimHash end to end.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import fingerprint_expr, tokens_expr


# ---------------------------------------------------------------- exact

def exact_dup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: hash-groupBy on md5(text). Returns one row
    per distinct text with the representative (min id) and multiplicity.
    The md5 digest (32 bytes) is grouped instead of the full text so the
    shuffle moves fixed-size keys, not documents."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def fingerprint_dup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup: identical after normalization (case/punct/ws
    folding). Same shuffle shape as exact_dup_groups."""
    return (
        docs.groupBy(fingerprint_expr(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ------------------------------------------------------- n-gram jaccard

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>) from a MATERIALIZED
    token-array column; documents shorter than n words get their full
    token join as a single shingle.

    PERF CONTRACT: ``toks`` must be a projected column, not an inline
    tokenize expression. Spark does not common-subexpression-eliminate
    across higher-order-function lambda boundaries, so an inline
    ``split(...)`` here is re-evaluated once per sequence element —
    O(tokens^2) work per document (measured 5x on the corpus-wide gram
    explode at sf0.1). Catalyst's CollapseProject keeps the separate
    projection because the alias is referenced more than once."""
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def shingles_expr(text: Column | str, n: int = 3) -> Column:
    """Inline-tokenize spec form of shingles_from_tokens — fine for
    per-row array use on SMALL inputs and for tests; corpus-scale
    explodes must materialize tokens first (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens_expr(text), n)


def contaminated_ids(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check, the eval-hygiene step of a
    training-data pipeline: ids of corpus docs sharing ANY word n-gram
    with the held-out benchmark set (8-grams are the common published
    heuristic). Shape for 100 TB: the benchmark side (eval suites,
    MB-scale) collapses to distinct md5 n-gram hashes and is
    BROADCAST; the corpus side is a scan-fused explode to fixed-width
    hashes, so the whole check is one broadcast hash join + one
    distinct — no corpus-sized shuffle besides the distinct on the
    (tiny) contaminated-id set."""
    bng = (
        bench.select(tokens_expr(F.col(text_col)).alias("_toks"))
        .select(F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    cng = (
        corpus.select(F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks"))
        .select(id_col, F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("g"))
        .select(id_col, F.md5("g").alias("gh"))
    )
    return cng.join(F.broadcast(bng), "gh").select(id_col).distinct()


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (set semantics).

    |A∪B| is computed ARITHMETICALLY as |A|+|B|-|A∩B| (r11): for
    distinct-element arrays — every caller's contract; shingle
    relations end in array_distinct — the identity is exact in
    integers, so the resulting double is bit-identical to the
    array_union form while doing ONE hash-set pass per pair instead
    of two (this expression sits under the candidate-verify joins,
    the dedup family's hottest per-pair work)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_mod: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.

    All-pairs is the exactness baseline (quadratic — small corpora /
    verification only; allpairs_jaccard_join returns the IDENTICAL
    result via prefix filtering without the cross product, and
    minhash_candidate_pairs trades exactness for candidates at scale).
    ``query_mod`` restricts the left side to ``id % query_mod == 0``
    — the 'dedup a sample against the corpus' shape."""
    a = docs.select(
        F.col(id_col).alias("doc_a"), tokens_expr(F.col(text_col)).alias("_t")
    ).select("doc_a", shingles_from_tokens(F.col("_t"), n).alias("sh_a"))
    b = docs.select(
        F.col(id_col).alias("doc_b"), tokens_expr(F.col(text_col)).alias("_t")
    ).select("doc_b", shingles_from_tokens(F.col("_t"), n).alias("sh_b"))
    if query_mod:
        a = a.filter(F.col("doc_a") % query_mod == 0)
    # The nested-loop join streams `a` at the SCAN's partitioning — one
    # parquet file means one task grinding every Jaccard on one core
    # (AQE can't help: it coalesces by bytes, not per-row CPU). Widen
    # the streamed side; see partitioning.to_cluster_width.
    from .partitioning import to_cluster_width

    a = to_cluster_width(a, "doc_a")
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            jaccard_expr(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def allpairs_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard self-join via prefix filtering — the
    AllPairs/PPJoin discipline (Bayardo et al., WWW'07): identical
    output to ngram_jaccard_pairs (every pair with J >= threshold, no
    approximation), without materializing the O(N^2) cross product.

    Why it is exact: order each doc's shingles by a GLOBAL total order
    (corpus document frequency ascending, shingle as tie-break) and
    keep only the first  p = |d| - ceil(t*|d|) + 1  as the doc's
    PREFIX. For any pair with J >= t, |A∩B| >= t*|A∪B| >= t*max(|A|,
    |B|), and the smallest common element under the global order must
    sit inside BOTH prefixes (if it sat past A's prefix, the >=
    ceil(t*|A|) intersection elements would all have to fit in the
    last ceil(t*|A|)-1 positions — a contradiction). So joining docs
    on shared PREFIX shingles generates a candidate superset, and
    exact verification (the same jaccard_expr the brute-force form
    uses) keeps precisely the qualifying pairs.

    Scale shape: shingle dfs are one groupBy; the prefix cut is one
    per-doc window over (df, shingle); candidates come from the shared
    one-pass bucket machinery on prefix shingles (no self-join); cost
    tracks sum over prefix shingles of C(df,2) — rare shingles
    dominate prefixes by construction, so hot (stopword) shingles are
    indexed only by docs that have nothing rarer, and the join never
    touches non-candidate pairs. This replaces the brute-force truth
    build in shared_jaccard_truth (the DuckDB oracle REMAINS the
    brute-force all-pairs SQL, so the cross-engine hash check proves
    the prefix filter's exactness on every corpus it runs on; equality
    with ngram_jaccard_pairs is additionally pinned in tests).

    The threshold enters ceil() through a tiny downward bias
    (-1e-9) so float rounding can only LENGTHEN a prefix (more
    candidates, never a missed pair).

    Precondition: threshold > 0 — at t=0 the brute-force form emits
    shingle-DISJOINT pairs (J=0.0 >= 0), which by definition share no
    shingle and can never become prefix candidates, so the identity
    claim above would not hold (review finding, r10b)."""
    if threshold <= 0:
        raise ValueError(
            "allpairs_jaccard_join requires threshold > 0 (prefix "
            "filtering cannot generate shingle-disjoint J=0 pairs; use "
            "ngram_jaccard_pairs for an all-pairs listing)"
        )
    sh = (
        shingles
        if shingles is not None
        else shingle_relation(docs, n, text_col, id_col)
    )
    tall = sh.select("did", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    dfs = tall.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("did").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
        + 1
    )
    pref = (
        tall.join(dfs, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= prefix_len)
    )
    cand = (
        _bucket_pairs(pref, ["shingle"], ["did", "n_sh"])
        # LENGTH filter (AllPairs): J >= t implies |A∩B| >= t·|A∪B| >=
        # t·max(|A|,|B|), and |A∩B| <= min(|A|,|B|), so any qualifying
        # pair satisfies min >= t·max — size-skewed candidates are
        # dropped BEFORE the shingle join + set-intersection verify.
        # Same -1e-9 bias discipline as the prefix cut: float rounding
        # of t·max may only ADMIT an extra candidate, never drop a
        # qualifying pair (verification stays exact either way).
        .where(
            F.least("n_sh_a", "n_sh_b")
            >= F.lit(threshold) * F.greatest("n_sh_a", "n_sh_b") - F.lit(1e-9)
        )
        .select(F.col("did_a").alias("doc_a"), F.col("did_b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_pairs(cand, sh, threshold)


# --------------------------------------------------------- minhash + lsh

P31 = 2_147_483_647
"""Mersenne prime 2^31-1: modulus of the universal hash family. Products
``a * h`` with a, h < 2^31 stay under 2^62, so the arithmetic is exact in
a signed 64-bit long in BOTH Spark and DuckDB — no overflow, no engine-
specific wrap semantics."""

BAND_MASK = (1 << 40) - 1
"""Horner-accumulator mask for LSH band hashes: keeps the running value
within 2^45 (< long overflow for any rows-per-band) while remaining a
plain ``&`` both engines compute identically."""

HASH_SEED = 7


def hash60_expr(c: Column | str) -> Column:
    """First 60 bits (15 hex chars) of md5 as a non-negative bigint.

    Chosen over xxhash64 as the dedup hash primitive because DuckDB can
    compute the IDENTICAL value (shift-sum over the md5 hex digits), so
    MinHash/SimHash outputs are hash-verifiable against the SQL oracle —
    xxhash64 has no DuckDB twin and forced rows-only checks in round 1."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_params(num_hashes: int, seed: int = HASH_SEED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal family
    h_i(x) = (a_i * x + b_i) mod P31 — same literals are embedded in the
    Spark plan and the DuckDB oracle SQL."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, P31), rng.randrange(0, P31)) for _ in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures, scalable form: explode shingles to a tall
    (doc, shingle) relation — shingle construction happens ONCE — then
    num_hashes grouped MINs. Each min is a partial+final HashAggregate,
    so the shuffle carries one 64-long signature row per doc regardless
    of document size. Returns (doc_id_, sig array<bigint>).

    The input is repartitioned by id first: document corpora often
    arrive as few large files, and the explode + 64 hashes/row is the
    compute-heavy phase — it must run at full cluster parallelism, not
    at input-file granularity.

    ``shingles``: an optional (did, sh) relation from shingle_relation
    over the SAME docs/n — the signature-store discipline: a caller
    holding the persisted shingle table derives signatures from it
    instead of re-tokenizing the corpus. Identical output by
    construction (both paths explode the same distinct-shingle arrays;
    pinned in tests/test_dedup.py). PRECEDENCE: when ``shingles`` is
    given, ``n``/``text_col``/``id_col`` are IGNORED — the injected
    relation fully determines shingle width and ids, and there is no
    structural handle to cross-check the declared n against it, so a
    caller injecting shingles built at a different width gets
    signatures consistent with THOSE shingles, not with n (ADVICE
    r11)."""
    from .partitioning import to_cluster_width

    if shingles is not None:
        tall = shingles.select(
            F.col("did").alias("doc_id_"), F.explode("sh").alias("shingle")
        )
    else:
        tall = (
            to_cluster_width(docs, id_col)
            .select(
                F.col(id_col).alias("doc_id_"),
                tokens_expr(F.col(text_col)).alias("_toks"),
            )
            .select(
                "doc_id_",
                F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
            )
        )
    # ONE md5 per shingle; the num_hashes family members are cheap
    # multiply-add-mod derivations of that base (universal hashing) —
    # far less per-row work than num_hashes independent string hashes,
    # and exactly reproducible in the DuckDB oracle.
    tall = tall.select("doc_id_", (hash60_expr("shingle") % P31).alias("hb"))
    # SQL-string aggregates for the same reason as simhash_signatures'
    # votes: the Column-operator form costs ~6 py4j round trips per
    # hash function x num_hashes — several hundred ms of driver time
    # per plan construction. CAST(a AS BIGINT) * hb + b stays entirely
    # in 63-bit-safe exact integer arithmetic (a, b < 2^31; hb < 2^31),
    # so the parsed tree computes identical values.
    mins = [
        F.expr(
            f"min((CAST({a} AS BIGINT) * hb + {b}) % {P31}) AS h{i}"
        )
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return (
        tall.groupBy("doc_id_")
        .agg(*mins)
        .select("doc_id_", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def _bucket_members(
    bucketed: DataFrame, key_cols: list[str], item_fields: list[str]
) -> DataFrame:
    """groupBy bucket key -> sorted member-struct list, buckets of one
    dropped (no pairs). Shared base of _bucket_pairs/oversize_buckets.

    The groupBy exchange is an EXPLICIT cluster-width repartition on the
    bucket key (which the aggregation then reuses — same clustering, no
    second shuffle): the stage downstream of this exchange is the
    quadratic pair expansion + verification arithmetic, i.e. CPU-bound
    work whose cost is pairs, not bytes, while the bucket-member table
    itself is small (keys + ids + per-member payload). Left implicit,
    AQE's byte-based coalescing (minPartitionSize 1 MB) folds the whole
    expansion into 1-2 tasks and the cluster idles through the dominant
    phase — measured on the SemDeDup pair stage at sf0.1: 1.55 s
    coalesced vs 0.99 s at explicit width. Same policy and width
    heuristic as partitioning.to_cluster_width (explicit repartitions
    are exactly how this repo pins width for CPU-bound phases); at
    production scale the member table still shuffles once either way.
    collect_list gains nothing from map-side partial aggregation (the
    partial lists carry every item anyway), so pre-exchange partials
    lose nothing here."""
    item = F.struct(*[F.col(f).alias(f) for f in item_fields])
    width = bucketed.sparkSession.sparkContext.defaultParallelism
    return (
        bucketed.repartition(width, *[F.col(k) for k in key_cols])
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(item)).alias("items"))
        .filter(F.size("items") > 1)
    )


def oversize_buckets(
    bucketed: DataFrame,
    key_cols: list[str],
    item_fields: list[str],
    max_bucket: int,
) -> DataFrame:
    """The buckets a ``max_bucket`` cap would drop, with their sizes —
    the companion audit for _bucket_pairs(max_bucket=...): a capped
    production run should count/log these (they are almost always
    degenerate duplicate clusters — empty strings, boilerplate — whose
    members are better handled by exact_dup_groups than by pairwise
    comparison)."""
    return (
        _bucket_members(bucketed, key_cols, item_fields)
        .filter(F.size("items") > max_bucket)
        .select(*key_cols, F.size("items").alias("n_members"))
    )


def _bucket_pairs(
    bucketed: DataFrame,
    key_cols: list[str],
    item_fields: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """All intra-bucket ordered pairs in ONE pass: groupBy bucket key,
    collect the sorted member list, posexplode members, pair each member
    with the tail of the list after it.

    Why not a self-join on the bucket key: Spark plans a self-join as
    TWO full computations of the input subtree (no exchange/stage reuse
    fires across self-join sides — measured, not assumed), which doubles
    the dominant signature-pipeline cost. The collect_list form computes
    the pipeline once.

    Memory shape: pair expansion is two chained generators (posexplode
    -> slice -> explode), so no single row ever holds the O(m^2) pair
    array — per-row state is the O(m) member list, and the m^2 output
    rows stream through the generators. (An earlier form flattened all
    pairs into one array per bucket first; a degenerate hot bucket —
    e.g. thousands of exact duplicates sharing every LSH band —
    concentrated quadratic memory in a single aggregation row.)

    Quadratic TIME per bucket is inherent to pair generation;
    ``max_bucket`` caps it: buckets with more members are dropped
    entirely (use oversize_buckets to count/log them — at 100 TB a cap
    plus an audit of what it dropped is the production posture, since a
    10k-member bucket means 50M pairs that exact-group dedup handles
    for free). Default None keeps every bucket — the registered
    oracle-checked queries run uncapped so the SQL twin needs no cap
    predicate.

    Members are structs of ``item_fields`` (sorted lexicographically, so
    the FIRST field must be the id — pairs come out id-ordered, a < b).
    Output columns are ``<field>_a`` then ``<field>_b``."""
    buckets = _bucket_members(bucketed, key_cols, item_fields)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("items") <= max_bucket)
    lhs = buckets.select(
        "items", F.posexplode("items").alias("i", "a")
    )
    out = lhs.select(
        "a",
        F.explode(
            F.slice("items", F.col("i") + 2, F.size("items"))
        ).alias("b"),
    )
    cols = [F.col(f"a.{f}").alias(f"{f}_a") for f in item_fields] + [
        F.col(f"b.{f}").alias(f"{f}_b") for f in item_fields
    ]
    return out.select(*cols)


def _banded_rows(with_sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Signature relation -> (doc_id_, band_idx, band_hash) band rows.
    Band rows carry only those 3 fixed-size values — never the 64-long
    signature — so the exploded shuffle stays narrow. Single definition
    shared by the full and incremental candidate paths (the band-hash
    scheme must stay in lockstep with the DuckDB oracle).

    Built as ONE parsed SQL expression string instead of ``bands``
    nested Column-operator chains (the r15 simhash/minhash-signatures
    fix generalized, r16): the 32-band struct array cost ~0.47 s of
    pure py4j driver time per plan build, the parsed form 0.10 s, and
    the RESOLVED plans are identical (verified: analyzed-plan diff is
    empty modulo plan_id; same rows)."""
    rows_per_band = num_hashes // bands
    parts = []
    for i in range(bands):
        acc = f"element_at(sig, {i * rows_per_band + 1})"
        for j in range(1, rows_per_band):
            acc = (
                f"(({acc} * 31 + element_at(sig,"
                f" {i * rows_per_band + j + 1})) & {BAND_MASK})"
            )
        parts.append(f"struct({i} as band_idx, {acc} as band_hash)")
    band_cols = F.expr(f"array({','.join(parts)})")
    return with_sig.select("doc_id_", F.explode(band_cols).alias("band")).select(
        "doc_id_", "band.band_idx", "band.band_hash"
    )


def shingle_relation(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(did, sh) distinct-shingle-array relation — the verification-side
    input, and the relation a signature STORE persists alongside band
    rows (deterministic, so recompute ≡ read). Repartitioned first so
    the tokenize runs at cluster width, not input-file granularity."""
    from .partitioning import to_cluster_width

    return (
        to_cluster_width(docs, id_col)
        .select(F.col(id_col).alias("did"), tokens_expr(F.col(text_col)).alias("_t"))
        .select("did", shingles_from_tokens(F.col("_t"), n).alias("sh"))
    )


def _verify_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float, sort: bool = True
) -> DataFrame:
    """Exact n-gram-Jaccard verification of a (doc_a, doc_b) candidate
    set against a (did, sh) shingle relation — the shared tail of the
    full, incremental, and streaming dedup paths. ``sort=False`` skips
    the presentation orderBy (a global range-partition + sort): sinks
    that write parquet get no cross-file ordering guarantee anyway.

    The shingle relation appears on both sides of the join, and Spark
    computes duplicated join sides twice (no stage reuse — see
    _bucket_pairs). That is accepted here: the projection is a
    shuffle-free tokenize (no 64-hash aggregate), and the
    alternative — an unmanaged .cache() — leaked storage memory across
    round 1's bench session. Cost ∝ 2 corpus scans, not candidates²."""
    out = (
        cand.join(sh.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select("doc_a", "doc_b", jaccard_expr(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.orderBy("doc_a", "doc_b") if sort else out


def minhash_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_estimate: bool = False,
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows of
    ``num_hashes/bands`` values, hash each band, and emit pairs of docs
    sharing any band bucket. This is the scale path: candidates come from
    a groupBy on (band_idx, band_hash) — a single shuffle — instead of a
    cross join.

    ``include_estimate=True`` attaches the signature-agreement
    similarity estimate, which re-joins the signature relation twice —
    and since these are lazy uncached plans, that means computing the
    full shingle+hash signature pipeline three times. It therefore
    defaults to FALSE: callers that immediately re-verify with exact
    Jaccard (minhash_dedup_pairs) would discard the estimate anyway,
    and inner joins can't be pruned by the optimizer because they
    affect cardinality. Opt in only when the estimate IS the output
    (e.g. ranking candidates without verification), and persist the
    signature relation around the call if you do it repeatedly.

    ``max_bucket`` drops degenerate hot buckets before pair expansion
    (see _bucket_pairs; audit the drops with oversize_buckets)."""
    # No .cache(): the builder contract returns lazy plans (nobody could
    # unpersist), and an unmanaged cache leaked storage memory across the
    # 28-query bench session in round 1. Callers that band the SAME
    # corpus several ways (the banding-ladder audit) pass a persisted
    # ``signatures`` relation ((doc_id_, sig), from minhash_signatures
    # with the same num_hashes) so the dominant signature pipeline is
    # built once, not once per band config.
    with_sig = (
        _assert_sig_width(signatures, num_hashes)
        if signatures is not None
        else minhash_signatures(docs, num_hashes, n, text_col, id_col)
    )
    if signatures is not None:
        # Guard a width-mismatched injection (r10 ADVICE): element_at
        # past the array end yields NULL band hashes (non-ANSI), which
        # would collapse every doc into one giant NULL bucket — a
        # SILENT quadratic candidate blowup. The guard lives inside the
        # consumed ``sig`` column so the optimizer cannot prune it.
        with_sig = with_sig.withColumn(
            "sig",
            F.when(F.size("sig") == num_hashes, F.col("sig")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "injected signatures width mismatch: expected "
                            f"num_hashes={num_hashes}, got "
                        ),
                        F.size("sig").cast("string"),
                    )
                )
            ),
        )
    banded = _banded_rows(with_sig, num_hashes, bands)
    cand = (
        _bucket_pairs(banded, ["band_idx", "band_hash"], ["doc_id_"], max_bucket)
        .select(
            F.col("doc_id__a").alias("doc_a"),
            F.col("doc_id__b").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if not include_estimate:
        return cand
    # signature-agreement estimate, joined onto the (small) candidate set
    sig_a = with_sig.select(F.col("doc_id_").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = with_sig.select(F.col("doc_id_").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH dedup: candidates from banding, then exact
    n-gram-Jaccard verification of ONLY the candidates (the classic
    two-phase scheme — verification cost is proportional to candidate
    count, not corpus^2). ``signatures`` / ``shingles`` let callers
    that run the pipeline repeatedly over one corpus (the banding
    ladder, a signature store) inject persisted relations for the two
    corpus-scan stages; both default to a fresh build with identical
    plans, so oracle hashes cannot move."""
    cand = minhash_candidate_pairs(
        docs, num_hashes, bands, n, text_col, id_col,
        include_estimate=False, max_bucket=max_bucket,
        signatures=signatures,
    )
    sh = shingles if shingles is not None else shingle_relation(docs, n, text_col, id_col)
    return _verify_pairs(cand, sh, threshold)


def _assert_sig_width(signatures: DataFrame, num_hashes: int) -> DataFrame:
    """Consistency guard for INJECTED signature stores (r15 ADVICE item
    3): _banded_rows slices ``sig`` by the declared ``num_hashes``, so a
    store built at a different width would silently produce wrong bands.
    A per-row assert_true filter (passes every row when the widths
    agree, raises mid-scan when they don't) turns that silent corruption
    into a loud failure; size(sig) == const is negligible next to the
    banding hashes. Applied ONLY to injected relations — the fresh-build
    path's plan stays byte-identical."""
    return signatures.filter(
        F.assert_true(
            F.size("sig") == F.lit(num_hashes),
            F.lit(
                "injected signature store width mismatch: size(sig) != "
                f"num_hashes={num_hashes}"
            ),
        ).isNull()
    )


def incremental_minhash_dedup_pairs(
    docs: DataFrame,
    is_new,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup: near-dup pairs INVOLVING a newly
    arrived document — new×new and new×old — with old×old pairs never
    generated. ``is_new`` is a Column-predicate callable applied to the
    id column (e.g. membership in the arriving batch).

    This is the daily-ingest form of minhash_dedup_pairs: a corpus that
    was already deduped must not re-pair itself against itself every
    time a batch lands. Per bucket, members split into new/old member
    ARRAYS via filtered collect_lists; pair generation is new-tail
    pairing within the new array plus a new×old product — an old-only
    bucket is dropped before any expansion, so incremental cost is
    proportional to the batch's bucket footprint, not the corpus.

    At 100 TB the old side's band rows and shingle sets are READ from
    the signature store written at original ingest (minhash_signatures
    output is deterministic, so recompute ≡ read); this function
    re-derives them from ``docs`` only because the registered query has
    a single input table. The verification join structure is unchanged:
    only candidate pairs pay exact Jaccard.

    ``signatures`` / ``shingles`` are the same injection contract as
    minhash_dedup_pairs: a caller holding the persisted signature-store
    relations (exactly the store this docstring describes) passes them
    in and the two corpus-scan stages become reads; both default to a
    fresh build with identical plans, so oracle hashes cannot move."""
    with_sig = (
        _assert_sig_width(signatures, num_hashes)
        if signatures is not None
        else minhash_signatures(docs, num_hashes, n, text_col, id_col)
    )
    banded = _banded_rows(with_sig, num_hashes, bands).withColumn(
        "_new", is_new(F.col("doc_id_"))
    )
    cand = _incremental_candidates(banded, max_bucket)
    sh = (
        shingles
        if shingles is not None
        else shingle_relation(docs, n, text_col, id_col)
    )
    return _verify_pairs(cand, sh, threshold)


def _incremental_candidates(
    banded: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Batch-touching candidate pairs from (doc_id_, band_idx,
    band_hash, _new) band rows: old×old pairs are never generated.

    collect_list skips the NULLs the when() leaves for the other side,
    giving per-bucket new/old member arrays in ONE aggregation; then
    ONE generator pass per bucket — each new member pairs with the
    new-array tail after it (new×new, already id-ordered) AND every
    old member (new×old, canonicalized below). A union of two branches
    would compute the whole signature+bucket subtree twice (Spark gets
    no reuse across union branches; measured in _bucket_pairs'
    docstring and seen live in this query's first PLANS.txt capture)."""
    width = banded.sparkSession.sparkContext.defaultParallelism
    buckets = (
        # explicit cluster-width exchange for the same reason as
        # _bucket_members: the downstream stage is the pair expansion,
        # CPU-bound, and byte-based AQE coalescing would serialize it
        banded.repartition(width, F.col("band_idx"), F.col("band_hash"))
        .groupBy("band_idx", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("_new"), F.col("doc_id_")))
            ).alias("new_m"),
            F.sort_array(
                F.collect_list(F.when(~F.col("_new"), F.col("doc_id_")))
            ).alias("old_m"),
        )
        .filter(
            (F.size("new_m") > 0)
            & (F.size("new_m") + F.size("old_m") > 1)
        )
    )
    if max_bucket is not None:
        buckets = buckets.filter(
            F.size("new_m") + F.size("old_m") <= max_bucket
        )
    return (
        buckets.select(
            "new_m", "old_m", F.posexplode("new_m").alias("i", "a")
        )
        .select(
            "a",
            F.explode(
                F.concat(
                    F.slice("new_m", F.col("i") + 2, F.size("new_m")),
                    "old_m",
                )
            ).alias("b"),
        )
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def signature_store_relations(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The two relations a MinHash signature STORE persists per ingested
    batch: band rows (doc_id, band_idx, band_hash) and shingle arrays
    (did, sh). Deterministic given the hash family, so recompute ≡
    read — which is what lets incremental paths and their oracles agree
    while production reads these from parquet instead of re-hashing."""
    sig = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    b = _banded_rows(sig, num_hashes, bands).select(
        F.col("doc_id_").alias("doc_id"), "band_idx", "band_hash"
    )
    return b, shingle_relation(docs, n, text_col, id_col)


def pairs_from_relations(
    new_bands: DataFrame,
    new_shingles: DataFrame,
    old_bands: DataFrame | None,
    old_shingles: DataFrame | None,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Core of the store-backed incremental dedup, operating purely on
    signature-store relations (doc_id band rows + (did, sh) shingles)
    for both sides.

    The old band store is SEMI-JOIN PRUNED on the batch's distinct
    (band_idx, band_hash) keys before the union: the batch's key set is
    tiny and broadcasts, so untouched buckets die at the store scan —
    without this, every micro-batch would shuffle the ENTIRE band store
    into the bucket aggregation just to drop old-only buckets after,
    making per-batch cost O(corpus) instead of O(batch footprint)."""
    nb = new_bands.select(
        F.col("doc_id").alias("doc_id_"), "band_idx", "band_hash"
    ).withColumn("_new", F.lit(True))
    if old_bands is None:
        banded, sh = nb, new_shingles.select("did", "sh")
    else:
        new_keys = nb.select("band_idx", "band_hash").distinct()
        pruned_old = old_bands.join(
            F.broadcast(new_keys), ["band_idx", "band_hash"], "leftsemi"
        )
        banded = nb.unionByName(
            pruned_old.select(
                F.col("doc_id").alias("doc_id_"), "band_idx", "band_hash"
            ).withColumn("_new", F.lit(False))
        )
        sh = new_shingles.select("did", "sh").unionByName(
            old_shingles.select("did", "sh")
        )
    cand = _incremental_candidates(banded, max_bucket)
    return _verify_pairs(cand, sh, threshold, sort=sort)


# ------------------------------------------------- winnowing fingerprints

def winnow_fingerprints_arrays(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing, array-HOF form — kept as the SEMANTIC SPEC (it is the
    literal transcription of the MOSS scheme) and as the DuckDB-oracle
    twin shape. NOT the scale path: the gram/hash/window arrays live
    inside ONE row, so a single long document (a 1M-token concatenated
    crawl page) materializes million-element arrays in one task — use
    winnow_fingerprints, which bounds per-row state via explode +
    windowed min. tests/test_dedup.py asserts both forms emit identical
    fingerprint sets."""
    toks = F.col("_toks")
    n = F.size(toks)
    # ordered, duplicate-preserving grams (unlike shingles_from_tokens,
    # which dedups — winnowing needs the positional sequence)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    hashes = F.transform(grams, lambda g: hash60_expr(g) % P31)
    m = F.size(hashes)
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (window - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(hashes, i, window)),
    )
    fps = F.array_sort(F.array_distinct(wins))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("_toks")
        )
        .select("doc_id", F.explode(fps).alias("fingerprint"))
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (the MOSS
    scheme): hash every ORDERED word k-gram, slide a ``window`` over the
    hash sequence, keep each window's minimum, emit the distinct minima
    as the document's fingerprint set. Two documents sharing a long
    enough passage share a fingerprint regardless of position.

    One row out per (doc, fingerprint) — the inverted-index shape: at
    100 TB, grouping by fingerprint finds cross-document shared passages
    with one shuffle, same scale story as exact_dup_groups.

    Scale form: tokens are EXPLODED and the k-gram + rolling-min run as
    window functions over (doc, pos) — codegen-compiled, parallel over
    docs after one shuffle, and per-row state is O(1) regardless of
    document length (the array-HOF spec form holds a whole document's
    gram/hash arrays in one row — see winnow_fingerprints_arrays).
    Edge semantics match the spec exactly: a doc with fewer than k
    tokens contributes its single short gram; fewer grams than
    ``window`` yields one min over all of them; an EMPTY doc emits the
    hash of the empty string (the spec's slice-of-empty behavior).
    Identity of the two forms is asserted in tests/test_dedup.py and
    the DuckDB oracle replays the array form — so the driver hash check
    covers this plan too."""
    from .partitioning import to_cluster_width

    toks = tokens_expr(F.col(text_col))
    base = to_cluster_width(docs, id_col).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks")
    )
    tall = base.select(
        "doc_id", F.posexplode("_toks").alias("_p", "_tok")
    )  # _p is 0-based
    wdoc = Window.partitionBy("doc_id").orderBy("_p")
    n = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    gram_parts = [F.col("_tok")] + [F.lead("_tok", j).over(wdoc) for j in range(1, k)]
    grams = (
        tall.withColumn("_n", n)
        # concat_ws skips NULL leads, so the tail/short-doc gram is the
        # concat of whatever tokens remain — exactly slice(toks, i, k)
        .withColumn("_gram", F.concat_ws(" ", *gram_parts))
        # spec generates grams at positions 1..max(n-k+1, 1) (1-based)
        .filter(F.col("_p") <= F.greatest(F.col("_n") - k, F.lit(0)))
        .withColumn("_h", hash60_expr(F.col("_gram")) % P31)
    )
    # m grams occupy positions 0..m-1; window minima at 0..max(m-window,0)
    m = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    wmin = F.min("_h").over(wdoc.rowsBetween(0, window - 1))
    fps = (
        grams.withColumn("_m", m)
        .withColumn("_win", wmin)
        .filter(F.col("_p") <= F.greatest(F.col("_m") - window, F.lit(0)))
        .select("doc_id", F.col("_win").alias("fingerprint"))
        .distinct()
    )
    # zero-token AND NULL-text docs never reach posexplode; the spec
    # gives both the fingerprint of the empty string (slice of an
    # empty/NULL token array -> concat_ws '' ). NB: size(NULL) is -1
    # under non-ANSI Spark, so a plain == 0 filter would silently drop
    # NULL-text docs and diverge from the array-form oracle.
    empties = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .filter(F.coalesce(F.size("_toks"), F.lit(0)) <= 0)
        .select("doc_id", (hash60_expr(F.lit("")) % P31).alias("fingerprint"))
    )
    return fps.unionByName(empties)


# --------------------------------------------------------------- simhash

def hamming_expr(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    docs: DataFrame,
    bits: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash, scalable form (same explode-then-aggregate shape as
    minhash_signatures): tokenize once into a tall relation, hash each
    token once, then ``bits`` grouped +1/-1 SUM votes — all partial-
    aggregated before the shuffle. Returns (doc_id_, sh bigint).
    Docs with no tokens produce no row (nothing to hash).
    Repartitioned by id for the same reason as minhash_signatures."""
    assert bits <= 60  # hash60 supplies 60 DuckDB-verifiable bits
    from .partitioning import to_cluster_width

    tall = to_cluster_width(docs, id_col).select(
        F.col(id_col).alias("doc_id_"),
        F.explode(tokens_expr(F.col(text_col))).alias("tok"),
    ).select("doc_id_", hash60_expr("tok").alias("h"))
    # The per-bit vote aggregates and the bit-fold are built as parsed
    # SQL strings, not Column-operator chains: the chained form costs
    # ~8 py4j round trips per bit x 60 bits x 2 loops — measured ~1.0 s
    # of pure DRIVER time to construct this one plan (per bench repeat,
    # before anything executes). One expr() parse per aggregate is the
    # same expression tree after parsing (CASE WHEN / shiftright /
    # integer sum — exact integer arithmetic, no coercion differences),
    # so results are bit-identical; the DuckDB oracle was re-verified
    # after the swap.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(bits)
    ]
    agg = tall.groupBy("doc_id_").agg(*votes)
    sim = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return agg.select("doc_id_", F.expr(sim).cast("bigint").alias("sh"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup: candidates share at least one of ``chunks``
    bit-chunks (pigeonhole: any pair within max_hamming < chunks*1 per
    chunk must agree on some chunk when max_hamming < chunks), then exact
    Hamming verification. Bucketed join — same scale shape as MinHash."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    sh = simhash_signatures(docs, bits, text_col, id_col).withColumnRenamed(
        "doc_id_", "did"
    )
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftright("sh", i * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    chunked = sh.select("did", "sh", F.explode(chunk_arr).alias("c")).select(
        "did", "sh", "c.chunk_idx", "c.chunk_val"
    )
    # single-pass intra-bucket pairs (see _bucket_pairs: a self-join
    # would execute the signature pipeline twice); signatures ride along
    # in the bucket items (8 bytes each), so Hamming verification needs
    # no re-join.
    return (
        _bucket_pairs(chunked, ["chunk_idx", "chunk_val"], ["did", "sh"], max_bucket)
        .select(
            F.col("did_a").alias("doc_a"),
            F.col("did_b").alias("doc_b"),
            hamming_expr(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ----------------------------------------------------- embedding near-dup

def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: pairs above a cosine threshold. Exact
    all-pairs baseline (use LSH buckets from operators.similarity for the
    scale path). ``query_mod`` samples the left side as in
    ngram_jaccard_pairs.

    Norms are computed ONCE PER VECTOR in the pre-join projections
    (N sqrt-folds, r11) instead of per pair — the naive cosine_expr
    recomputes BOTH norms inside the N^2 join, so this drops ~2/3 of
    the arithmetic under the join (measured 12.1 s -> 3.4 s cold at
    sf0.1) with bit-identical doubles (same folds, evaluated once per
    row; pinned in tests/test_similarity.py)."""
    from .similarity import _dbl, dot_expr, norm_expr

    # _dbl BEFORE the folds: the stored embeddings are array<float>,
    # and cosine_expr's contract is fold-over-DOUBLES — skipping the
    # cast changes last-ulp rounding and breaks the oracle hash
    # (caught by the gate when r11 first inlined the norms)
    a = emb.select(
        F.col(id_col).alias("vec_a"),
        _dbl(F.col(vec_col)).alias("ea"),
        norm_expr(_dbl(F.col(vec_col))).alias("na"),
    )
    b = emb.select(
        F.col(id_col).alias("vec_b"),
        _dbl(F.col(vec_col)).alias("eb"),
        norm_expr(_dbl(F.col(vec_col))).alias("nb"),
    )
    if query_mod:
        a = a.filter(F.col("vec_a") % query_mod == 0)
    # Same parallelism guard as ngram_jaccard_pairs: widen the streamed
    # side of the nested-loop instead of the scan's single parquet
    # partition (see partitioning.to_cluster_width).
    from .partitioning import to_cluster_width

    a = to_cluster_width(a, "vec_a")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (
                dot_expr(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def embedding_lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    bands: int = 4,
    bits_per_band: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup, SCALE path: banded (multi-table) sign-bit
    LSH — a pair is a candidate if it matches on ALL bits of ANY band,
    then exact cosine verifies only candidates. Banding is what makes
    moderate-similarity recall workable: P(candidate) =
    1-(1-p^bits)^bands with p = 1 - theta/pi per bit, vs p^bits for a
    single wide table. Replaces the all-pairs O(n^2) of
    embedding_near_dup_pairs with a groupBy on (band, signature) — one
    shuffle. Same single-pass _bucket_pairs shape as MinHash (self-joins
    execute the input twice); vectors ride in the bucket items so
    verification needs no re-join."""
    from .similarity import _dbl, dot_expr, hyperplanes, norm_expr, signature_expr

    planes = hyperplanes(dim, bands * bits_per_band, seed)
    band_sigs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                signature_expr(
                    F.col(vec_col),
                    planes[b * bits_per_band : (b + 1) * bits_per_band],
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    # the double-cast vector AND its norm ride in the bucket items
    # (computed once per vector pre-explode, r11) so verification is
    # dot/(na*nb) instead of cosine_expr's per-pair norm recomputation
    # — identical doubles, same win as embedding_near_dup_pairs
    bucketed = emb.select(
        F.col(id_col).alias("vid"),
        _dbl(F.col(vec_col)).alias("v"),
        norm_expr(_dbl(F.col(vec_col))).alias("nv"),
        F.explode(band_sigs).alias("band"),
    ).select("vid", "v", "nv", "band.band_idx", "band.band_sig")
    return (
        _bucket_pairs(
            bucketed, ["band_idx", "band_sig"], ["vid", "v", "nv"], max_bucket
        )
        .select(
            F.col("vid_a").alias("vec_a"),
            F.col("vid_b").alias("vec_b"),
            (
                dot_expr(F.col("v_a"), F.col("v_b"))
                / (F.col("nv_a") * F.col("nv_b"))
            ).alias("cosine"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


# ----------------------------------------------- exact duplicated spans


def positional_grams_from_tokens(toks: Column, n: int = 8) -> Column:
    """POSITIONAL word n-gram md5 hashes (one per start offset, repeats
    kept) from a MATERIALIZED token-array column — unlike
    shingles_from_tokens, which is the distinct-set form for Jaccard.
    Span-level dedup needs every occurrence: the metric is 'what
    fraction of this document's spans also occur elsewhere', so a span
    repeated at 5 offsets contributes 5, not 1. Documents shorter than
    n tokens contribute their full token join as a single span.
    Same perf contract as shingles_from_tokens: pass a projected
    column, never an inline tokenize expression."""
    k = F.size(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
    )


def duplicated_span_stats(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics — the ExactSubstr signal
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), re-expressed relationally: instead of a suffix
    array over the concatenated corpus, a span (word n-gram, n=8 — the
    span length published dedup pipelines use for contamination too) is
    'duplicated' iff its text occurs in MORE THAN ONE document. Output:
    one row per doc with n_spans, dup_spans, and dup_frac — the score
    pipelines threshold on to drop mostly-boilerplate documents.

    Scale shape (100 TB): spans collapse to fixed-width md5 hashes at
    the scan — the raw text never shuffles. Document frequency is a
    partial-aggregated groupBy(gh) joined back on gh — NOT a per-gh
    window: a ubiquitous boilerplate gram (the very thing this operator
    detects) would put its whole document list into one unsplittable
    WindowExec partition, while join skew is split by AQE at runtime
    (PLANS.txt §aqe_skew_join) and the groupBy combines map-side. The
    tokenize+md5 explode is evaluated once per branch (column pruning
    specializes each branch's (gh, doc) aggregate, so their exchanges
    don't canonicalize equal and ReuseExchange cannot fire) — the same
    documented rescan-over-unmanaged-cache tradeoff as the MinHash
    verification join; a scoped persist would trade one scan for
    storage-memory pressure. The final per-doc rollup shuffles one
    fixed-width row per distinct (doc, gram). No all-pairs stage
    anywhere — cost is linear in corpus tokens.
    """
    grams = docs.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.explode(positional_grams_from_tokens(F.col("_toks"), n)).alias("gh"),
    )
    per_doc_gram = grams.groupBy("gh", id_col).agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    doc_freq = per_doc_gram.groupBy("gh").agg(F.count(F.lit(1)).alias("ndocs"))
    with_df = per_doc_gram.join(doc_freq, "gh")
    return (
        with_df.groupBy(id_col)
        .agg(
            F.sum("n_occ").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") > 1, F.col("n_occ")).otherwise(0)).alias(
                "dup_spans"
            ),
        )
        .select(
            id_col,
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.col("dup_spans").cast("bigint").alias("dup_spans"),
            F.round(
                F.col("dup_spans").cast("double") / F.col("n_spans").cast("double"), 6
            ).alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def containment_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    df_min: int = 2,
    df_max: int = 10,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle CONTAINMENT (Broder):
    containment = |A∩B| / min(|A|,|B|) — the measure that catches a
    small document embedded inside a much larger one, where Jaccard
    (|A∩B|/|A∪B|) is diluted by the big doc's size and the symmetric
    MinHash bands rarely collide. The quote/boilerplate/subset-dup
    detector every corpus pipeline wants next to its Jaccard dedup.

    Candidates come from RARE-SHINGLE blocking (the prefix-filtering
    discipline of the AllPairs/PPJoin similarity-join family): two docs
    are candidates iff they share a shingle whose corpus document
    frequency is in [df_min, df_max]. A true subset pair shares ALL of
    the contained doc's shingles, so it is found whenever the contained
    doc has at least one globally-rare shingle — the natural-text case;
    degenerate all-common-shingle docs are exactly the ones the
    exact-hash and MinHash families already catch.

    Scale shape: shingle document frequencies are one groupBy; the df
    cap bounds every blocking bucket (pairs per shingle <= C(df_max,2)
    — the cap IS the scale knob, same posture as _bucket_pairs'
    max_bucket), pair generation is the shared one-pass bucket
    machinery (no self-join), and exact containment verification
    touches only candidates. Stopword-shingles (df > df_max) never
    block anything — the skew guard.
    """
    # shingle_relation's arrays are already distinct (it ends in
    # array_distinct), and the relation feeds FOUR consumers (the df
    # groupBy, the rare semi-join, both verification sides) — checkpoint
    # it so the tokenize/shingle pipeline runs once, not 4x (the
    # triangle-counts lesson; review finding, r8). ``shingles``: reuse
    # a caller-managed (did, sh) relation instead (the signature-store
    # posture — production dedup materializes this table once per
    # corpus; plans/dedup_queries.py memo-persists it).
    if shingles is not None:
        shd = shingles
    else:
        shd = shingle_relation(docs, n, text_col, id_col).localCheckpoint(
            eager=False
        )
    tall = shd.select("did", F.explode("sh").alias("shingle"))
    df = (
        tall.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= df_min) & (F.col("df") <= df_max))
        .select("shingle")
    )
    rare = tall.join(df, "shingle", "left_semi")
    cand = (
        _bucket_pairs(
            rare.select("shingle", F.col("did").alias("doc_id_")),
            ["shingle"],
            ["doc_id_"],
        )
        .select(
            F.col("doc_id__a").alias("doc_a"),
            F.col("doc_id__b").alias("doc_b"),
        )
        .distinct()
    )
    va = shd.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a"))
    vb = shd.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    mn = F.least(na, nb)
    cont = F.when(
        mn > 0, inter.cast("double") / mn.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_shared"),
            na.cast("bigint").alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def containment_all_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact all-pairs containment (|A∩B|/min(|A|,|B|) >= threshold) —
    the quadratic exactness baseline containment_dedup_pairs' blocking
    approximates; verification/recall audits only, never the scale
    path. Same columns as containment_dedup_pairs so recall audits can
    join the two directly. ``shingles`` as in containment_dedup_pairs."""
    from .partitioning import to_cluster_width

    # both join sides consume the relation: checkpoint so the
    # tokenize/shingle pipeline runs once, not per side (the
    # containment_dedup_pairs discipline)
    if shingles is not None:
        shd = shingles
    else:
        shd = shingle_relation(docs, n, text_col, id_col).localCheckpoint(
            eager=False
        )
    a = to_cluster_width(
        shd.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    )
    b = shd.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    mn = F.least(na, nb)
    cont = F.when(mn > 0, inter.cast("double") / mn.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_shared"),
            na.cast("bigint").alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def containment_allpairs_prefix(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs containment via ASYMMETRIC prefix filtering —
    identical output to containment_all_pairs without the cross
    product, the containment twin of allpairs_jaccard_join.

    Containment = |A∩B|/min(|A|,|B|) >= t bounds the intersection only
    against the SMALLER doc (t·min can be a sliver of the larger one),
    so the symmetric Jaccard prefix scheme does not apply. The exact
    asymmetric scheme: every doc posts ALL its shingles to the index
    side; every doc posts its PREFIX (first |d|-ceil(t·|d|)+1 shingles
    under the global df-ascending order) to the probe side; candidates
    join probe-prefix x index on the shingle, keeping orientations
    where the prefix owner is the smaller-or-equal side. For any
    qualifying pair the smaller doc's intersection with the larger has
    >= ceil(t·|S|) elements, so the smallest common element sits inside
    the smaller doc's prefix (the allpairs_jaccard_join argument), and
    the larger doc indexes everything — the candidate is always
    generated. Exact verification keeps precisely the qualifying
    pairs.

    Precondition threshold > 0, as in allpairs_jaccard_join (shingle-
    disjoint pairs score 0.0 and would need the cross product)."""
    if threshold <= 0:
        raise ValueError(
            "containment_allpairs_prefix requires threshold > 0; use "
            "containment_all_pairs for an all-pairs listing"
        )
    sh = (
        shingles
        if shingles is not None
        else shingle_relation(docs, n, text_col, id_col)
    )
    tall = sh.select(
        "did", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    dfs = tall.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("did").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
        + 1
    )
    probe = (
        tall.join(dfs, "shingle")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= prefix_len)
        .select(F.col("did").alias("p_did"), F.col("n_sh").alias("p_n"), "shingle")
    )
    index = tall.select(
        F.col("did").alias("q_did"), F.col("n_sh").alias("q_n"), "shingle"
    )
    cand = (
        probe.join(index, "shingle")
        .where(
            (F.col("p_n") < F.col("q_n"))
            | ((F.col("p_n") == F.col("q_n")) & (F.col("p_did") != F.col("q_did")))
        )
        .select(
            F.least("p_did", "q_did").alias("doc_a"),
            F.greatest("p_did", "q_did").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(F.col("did").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("did").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    mn = F.least(na, nb)
    cont = F.when(mn > 0, inter.cast("double") / mn.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_shared"),
            na.cast("bigint").alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------- semantic dedup


def semantic_dedup_flags(
    emb: DataFrame,
    threshold: float = 0.6,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    n_assign: int = 1,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al., 2023 — cluster the
    embedding space, drop near-identical points within each cluster):
    assign every vector to its nearest IVF centroid (the deterministic
    shared codebook of operators/similarity.ivf_assignments), then
    within each cluster drop any vector whose cosine to a SMALLER-id
    cluster member reaches ``threshold``. Returns one row per vector:
    (vec_id, centroid_id, keep) — the keep-list is the deduped corpus.

    Deterministic keep rule: a vector is dropped iff ANY smaller-id
    member of its cluster is within the threshold (the parallel,
    order-free variant of the paper's greedy scan; where the greedy
    form would re-admit a vector because its nearer predecessor was
    itself dropped, this variant still drops it — strictly
    more-aggressive, deterministic, and embarrassingly parallel).
    Known miss, documented: near-duplicates assigned to DIFFERENT
    clusters are not compared — the same recall trade the paper makes;
    the all-pairs baseline (embedding_near_dup_pairs) measures it.

    Scale shape: assignment is a pure per-row expression against the
    broadcast codebook (no shuffle); intra-cluster pairs come from the
    shared one-pass bucket machinery keyed on centroid_id (per-cluster
    cost C(|cluster|, 2) — n_centroids is the knob that bounds cluster
    size at scale, and ``max_bucket`` drops degenerate mega-clusters
    before expansion, the _bucket_pairs discipline); norms ride the
    bucket items so verification is dot/(na*nb). The dropped-id set is
    vector-count-bounded, and the final flag join is id-keyed.

    ``n_assign`` > 1 switches the PAIR stage to MULTI-assignment (each
    vector joins its n_assign nearest clusters —
    similarity.ivf_multi_assignments): the standard mitigation for the
    cross-cluster miss, recovering boundary pairs at ≤ n_assign²× pair
    cost; the drop rule is unchanged over the UNION of intra-cluster
    pairs, and the reported centroid_id stays the rank-1 assignment —
    identical to the single-assignment column.

    ``assigned`` injects a pre-built (and typically persisted)
    ivf_assignments output for the SAME (emb, n_centroids) — the
    codebook-store posture: without it, ``assigned`` appears in two
    subtrees of one plan (the pair source and the final flag join) and
    Spark evaluates the 16-cosine argmax over the corpus twice per
    action. Injection defaults to a fresh build with an identical plan,
    so oracle hashes cannot move (the minhash_dedup_pairs contract).
    Only valid for ``n_assign == 1`` (the multi-assignment pair source
    derives from the shared codebook, which the caller then must own)."""
    from .similarity import ivf_assignments, ivf_multi_assignments

    if assigned is not None:
        if n_assign != 1:
            raise ValueError(
                "assigned-injection requires n_assign == 1 (the"
                " multi-assignment pair source needs the codebook)"
            )
        cb = None
    else:
        assigned, cb = ivf_assignments(emb, n_centroids, id_col, vec_col)
    pair_src = assigned
    if n_assign > 1:
        pair_src, _ = ivf_multi_assignments(
            emb, n_centroids, n_assign, id_col, vec_col, codebook=cb
        )
    dropped = (
        _semantic_cluster_pairs(pair_src, threshold, id_col, vec_col, max_bucket)
        .select(F.col("vec_b").alias("_dropped_id"))
        .distinct()
    )
    return (
        assigned.select(id_col, "centroid_id")
        .join(
            dropped, F.col(id_col) == F.col("_dropped_id"), "left_outer"
        )
        .select(
            id_col,
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.col("_dropped_id").isNull().alias("keep"),
        )
        .orderBy(id_col)
    )


def _semantic_cluster_pairs(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    dedup_pairs: bool = False,
) -> DataFrame:
    """Intra-cluster qualifying pairs (vec_a < vec_b, cosine >=
    threshold) over an ivf_assignments output — the pair stage shared
    by semantic_dedup_flags and its recall audit (the within-cluster
    restriction is exactly what the audit measures against the
    all-pairs baseline). Pre-joined norms, the
    embedding_near_dup_pairs discipline.

    ``dedup_pairs``: under MULTI-assignment the same pair can qualify
    in every cluster both vectors share; pass True where the consumer
    needs set semantics (the recall audit's full-outer pair compare).
    semantic_dedup_flags skips it — its dropped-id projection is
    DISTINCT anyway, and the extra pair-grain shuffle would be pure
    cost there."""
    from .similarity import _dbl, dot_expr, norm_expr

    items = assigned.select(
        F.col(id_col).alias("vid"),
        _dbl(F.col(vec_col)).alias("v"),
        norm_expr(_dbl(F.col(vec_col))).alias("nv"),
        "centroid_id",
    )
    pairs = (
        _bucket_pairs(items, ["centroid_id"], ["vid", "v", "nv"], max_bucket)
        .where(
            dot_expr(F.col("v_a"), F.col("v_b"))
            / (F.col("nv_a") * F.col("nv_b"))
            >= F.lit(threshold)
        )
        .select(F.col("vid_a").alias("vec_a"), F.col("vid_b").alias("vec_b"))
    )
    return pairs.dropDuplicates(["vec_a", "vec_b"]) if dedup_pairs else pairs

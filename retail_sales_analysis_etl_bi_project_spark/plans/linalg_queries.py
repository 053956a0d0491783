"""Round-15 linear-algebra family: distributed exact covariance
moments + fixed-round power iteration over the embedding corpus —
`embed_pca_power_iteration`, the dominant principal direction and its
explained-variance share as hash-checked numbers.

Why it matters for a training-data pipeline: the covariance spectrum
of an embedding corpus is the standard anisotropy/effective-rank
diagnostic (a collapsed embedding space — one direction hoarding the
variance — breaks cosine-based dedup and ANN recall alike), and the
whitening/PCA transform it feeds is the classic pre-processing step
for IVF/PQ indexes. The reference has nothing like it
(/root/reference/etl/etl.py:220-306 stops at groupBy sums); this is
north-star extension surface, mechanically new vs every other family
in the repo: matrix-valued exact aggregation + an ITERATIVE algorithm
whose every round is replayed bit-for-bit by the DuckDB twin.

Numeric discipline (REQUIREMENTS.md, the strictest form):
- elements quantize to ×10⁴ fixed point with floor(x+0.5) (identical
  both engines for all signs — round()'s tie rule is not shared);
- the scaled covariance numerator M = N·Σqq′ − (Σq)(Σq)′ is an exact
  DECIMAL(38,0)/HUGEINT integer — order-free sums only;
- each power-iteration round: exact integer matvec, truncation-
  rescaled EXACT integer squared norm ((w − w%10⁴)//10⁴, identical
  truncation both engines since the numerator divides exactly), ONE
  IEEE sqrt, re-quantization back to fixed point — so no multi-term
  float sum exists anywhere in the pipeline and fold order is
  irrelevant by construction;
- the read-out (Rayleigh quotient λ = vᵀMv / vᵀv and its share of
  trace(M)) is exact-integer numerators/denominators with single
  IEEE divisions at the end.

Scale shape (100 TB): one corpus scan builds d² = 4096 exact partial
sums (map-side combined); the 64×64 moment matrix is a KB fitted
artifact and all 3 iteration rounds join KB relations — iterating is
corpus-free. At d where d² partials strain a shuffle (d ≳ 10⁴),
the swap is blocked outer products (dim-range tiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.linalg import (
    fit_moments,
    power_iterate,
    quantized_elements,
)
from ..sources.tables import load_table
from .registry import query

_DIM = 64
_ITERS = 3


def _pca_oracle(iters: int = _ITERS) -> str:
    """DuckDB replay of the full chain: quantize → exact moments →
    ``iters`` unrolled power-iteration rounds → Rayleigh read-out.
    HUGEINT (int128) carries every integer exactly (max magnitude
    ~4e25 ≪ 1.7e38); ``//`` is exact here because the numerator is
    made divisible first."""
    rounds = []
    prev = "v0"
    for r in range(1, iters + 1):
        rounds.append(f"""
    w{r} AS (
      SELECT m.i, CAST(SUM(m.m_ij * v.v_q) AS HUGEINT) AS w_i
      FROM m JOIN {prev} v ON v.dim_idx = m.j
      GROUP BY 1
    ),
    n{r} AS (
      SELECT sqrt(CAST(SUM(((w_i - (w_i % 10000)) // 10000)
                          * ((w_i - (w_i % 10000)) // 10000)) AS DOUBLE))
             * 10000.0 AS norm_w
      FROM w{r}
    ),
    v{r} AS (
      SELECT w.i AS dim_idx,
             CAST(floor(CAST(w.w_i AS DOUBLE) / n.norm_w * 10000.0 + 0.5)
                  AS HUGEINT) AS v_q
      FROM w{r} w CROSS JOIN n{r} n
    )""")
        prev = f"v{r}"
    rounds_sql = ",".join(rounds)
    return f"""
    WITH idx AS (SELECT unnest(generate_series(1, {_DIM})) AS ii),
    q AS (
      SELECT e.vec_id, idx.ii - 1 AS dim_idx,
             CAST(floor(CAST(e.embedding[idx.ii] AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS q
      FROM embeddings e CROSS JOIN idx
    ),
    s AS (
      SELECT dim_idx, CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s_q,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM q GROUP BY 1
    ),
    p AS (
      SELECT a.dim_idx AS i, b.dim_idx AS j,
             CAST(SUM(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS p_ij
      FROM q a JOIN q b USING (vec_id)
      GROUP BY 1, 2
    ),
    m AS (
      SELECT p.i, p.j, si.n * p.p_ij - si.s_q * sj.s_q AS m_ij
      FROM p JOIN s si ON si.dim_idx = p.i
             JOIN s sj ON sj.dim_idx = p.j
    ),
    v0 AS (
      SELECT DISTINCT i AS dim_idx, CAST(10000 AS HUGEINT) AS v_q FROM m
    ),{rounds_sql},
    ray AS (
      SELECT CAST(SUM(va.v_q * m.m_ij * vb.v_q) AS HUGEINT) AS num
      FROM m JOIN {prev} va ON va.dim_idx = m.i
             JOIN {prev} vb ON vb.dim_idx = m.j
    ),
    den AS (SELECT CAST(SUM(v_q * v_q) AS HUGEINT) AS den FROM {prev}),
    tr AS (SELECT CAST(SUM(m_ij) AS HUGEINT) AS trace_m FROM m WHERE i = j),
    nn AS (SELECT CAST(MAX(n) AS BIGINT) AS n_vectors FROM s)
    SELECT v.dim_idx,
           CAST(v.v_q AS BIGINT) AS eigvec_q,
           CAST(mii.m_ij AS DOUBLE) AS var_ii_scaled,
           CAST(ray.num AS DOUBLE) / CAST(den.den AS DOUBLE)
             AS lambda_scaled,
           (CAST(ray.num AS DOUBLE) / CAST(den.den AS DOUBLE))
             / CAST(tr.trace_m AS DOUBLE) AS explained_share,
           nn.n_vectors
    FROM {prev} v
    JOIN m mii ON mii.i = v.dim_idx AND mii.j = v.dim_idx
    CROSS JOIN ray CROSS JOIN den CROSS JOIN tr CROSS JOIN nn
    ORDER BY v.dim_idx
    """


@query("embed_pca_power_iteration", oracle=_pca_oracle())
def embed_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus via exact
    quantized covariance moments + three power-iteration rounds,
    with the Rayleigh quotient's share of total variance — the
    anisotropy diagnostic (a healthy corpus spreads variance; a
    collapsed one concentrates it in this direction). One corpus-sized
    Spark pass fits the d² exact moment partials; everything downstream
    is KB-scale exact-integer arithmetic; see module docstring for the
    exactness argument, operators/linalg.py for the pieces,
    tests/test_linalg.py for the numpy cross-check.

    Execution shape (r15 optimization): the moment fit — d² + d exact
    partial sums, KBs at ANY corpus size — is collected once per
    (app, sf, input files) as the family's FITTED ARTIFACT (the codebook
    discipline; memo_artifact, released by bench hygiene like every
    managed cache). The power-iteration rounds, Rayleigh quotient,
    trace, and explained-variance share are exact unbounded-int Python
    arithmetic over that artifact with the same single-IEEE-op
    read-outs as before (identical values: Python int sums equal
    DECIMAL(38,0) sums bit-for-bit; float(int)/float(int) is the same
    pair of correctly-rounded doubles and the same IEEE division the
    distributed plan produced). The r15-build form ran SEVEN
    distributed jobs per invocation over the persisted 4096-row
    relation (3 matvecs at plan build + ray/den/tr/nn broadcast
    aggregates under the action) — 3.9 s of almost pure job/broadcast
    overhead, vs one collect of 4,160 rows."""
    from .shared_cache import memo_artifact

    def fit():
        emb = load_table(spark, sf_dir, "embeddings")
        return fit_moments(quantized_elements(emb))

    ment, sums, counts = memo_artifact("cov_moments_fit", spark, sf_dir, fit)
    schema = (
        "dim_idx bigint, eigvec_q bigint, var_ii_scaled double, "
        "lambda_scaled double, explained_share double, n_vectors bigint"
    )
    # degenerate-input guards (r15 ADVICE item 2): an empty corpus made
    # the old distributed plan return an EMPTY DataFrame (every CTE
    # empty), and a zero-variance/single-vector corpus produced IEEE
    # Inf/NaN doubles, not a Python exception — replicate both instead
    # of raising ValueError/ZeroDivisionError. The registered corpora
    # cannot produce either case; this is posture, not a result change.
    if not counts or not ment:
        return spark.createDataFrame([], schema)

    def _ieee_div(a: float, b: float) -> float:
        if b != 0.0:
            return a / b
        if a == 0.0:
            return float("nan")
        return float("inf") if a > 0.0 else float("-inf")

    v = power_iterate(ment, dims=_DIM, iters=_ITERS)

    # exact-integer read-outs (Python unbounded ints == DECIMAL(38,0))
    num = sum(ment[(i, j)] * v[i] * v[j] for (i, j) in ment if i in v and j in v)
    den = sum(q * q for q in v.values())
    trace_m = sum(m_ij for (i, j), m_ij in ment.items() if i == j)
    n_vectors = max(counts.values())
    lam = _ieee_div(float(num), float(den))
    share = _ieee_div(lam, float(trace_m))
    rows = [
        (
            d,
            v[d],
            float(ment[(d, d)]),
            lam,
            share,
            n_vectors,
        )
        for d in sorted(v)
    ]
    return spark.createDataFrame(rows, schema).orderBy("dim_idx")

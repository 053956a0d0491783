"""Association / vocabulary family entries that stay registered: the
churn Jaccard batch query on a hand-computed mini-corpus, and exact
mass-conservation / bounds invariants of the LSH bucket-skew, IVF
cell-balance and resize-dims audits on the real test corpus."""

import datetime as dt

from pyspark.sql import functions as F


def _orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    ).write.parquet(f"{tmp_path}/orders.parquet")
    return str(tmp_path)


def test_churn_jaccard_hand_case(spark, tmp_path):
    from retail_sales_analysis_etl_bi_project_spark.plans.lifecycle_queries import (
        bi_active_customer_churn_jaccard,
    )

    # Jan actives {1,2,3}, Feb actives {2,3,4,5}: inter=2, union=5
    rows = [
        (1, 1, 10.0, dt.datetime(2024, 1, 5)),
        (2, 2, 10.0, dt.datetime(2024, 1, 6)),
        (3, 3, 10.0, dt.datetime(2024, 1, 7)),
        (4, 2, 10.0, dt.datetime(2024, 2, 1)),
        (5, 3, 10.0, dt.datetime(2024, 2, 2)),
        (6, 4, 10.0, dt.datetime(2024, 2, 3)),
        (7, 5, 10.0, dt.datetime(2024, 2, 4)),
        (8, 2, 10.0, dt.datetime(2024, 2, 5)),  # dup active pair
    ]
    sf = _orders(spark, tmp_path, rows)
    out = bi_active_customer_churn_jaccard(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.ym_prev, r.ym_next) == (202401, 202402)
    assert (r.n_prev, r.n_next, r.n_retained) == (3, 4, 2)
    assert r.jaccard == 2 / 5
    assert r.retention == 2 / 3


def test_lsh_bucket_skew_mass_conservation(spark, sf_dir):
    from retail_sales_analysis_etl_bi_project_spark.plans.dedup_queries import (
        dedup_lsh_bucket_skew,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_table,
    )

    out = dedup_lsh_bucket_skew(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    # every doc lands in exactly one bucket per band x 16 bands
    assert sum(r.bucket_size * r.n_buckets for r in out) == 16 * n_docs
    for r in out:
        assert r.n_candidate_pairs == r.n_buckets * (
            r.bucket_size * (r.bucket_size - 1) // 2
        )


def test_ivf_cell_balance_mass_conservation(spark, sf_dir):
    from retail_sales_analysis_etl_bi_project_spark.plans.similarity_queries import (
        sim_ivf_cell_balance,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_table,
    )

    out = sim_ivf_cell_balance(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in out) == n_vecs
    assert abs(sum(r.share for r in out) - 1.0) < 1e-9


def test_resize_dims_bounds(spark, sf_dir):
    from retail_sales_analysis_etl_bi_project_spark.plans.misc_queries import (
        multimodal_resize_dims,
    )
    from retail_sales_analysis_etl_bi_project_spark.sources.tables import (
        load_table,
    )

    out = multimodal_resize_dims(spark, sf_dir).collect()
    n_images = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .count()
    )
    assert len(out) == n_images
    assert all(0 < r.width <= 224 and 0 < r.height <= 224 for r in out)

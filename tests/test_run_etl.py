"""End-to-end CLI smoke test: run_etl generates data, cleans, builds
the warehouse, writes parquet + validation report."""

from retail_sales_analysis_etl_bi_project_spark.run_etl import main


def test_run_etl_generated(spark, tmp_path):
    out = tmp_path / "wh"
    main(["--out", str(out), "--rows", "500"])
    # get_spark returned the running session as it is: the ETL's own
    # shuffle-partition count did not replace the test session's 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert (out / "validation_report.txt").exists()
    report = (out / "validation_report.txt").read_text()
    assert "rows in customers:" in report
    assert "sales rows with bad foreign keys: 0" in report
    gold = spark.read.parquet(str(out / "gold" / "fact_sales"))
    assert gold.count() > 0
    # month partitioning on disk (replaces reference FK indexes)
    assert any(p.name.startswith("month_key=") for p in (out / "gold" / "fact_sales").iterdir())
    dim_date = spark.read.parquet(str(out / "gold" / "dim_date"))
    assert {"date_key", "weekday"} <= set(dim_date.columns)

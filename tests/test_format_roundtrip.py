"""Source/sink format menu: gold output round-trips through CSV and ORC
without value loss (the engine is parquet-first; these prove the rest of
the standard format surface works for interchange)."""

from __future__ import annotations

from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.plans import all_queries

from .conftest import SF_SMOKE


def test_orc_roundtrip(spark, tmp_path):
    df = all_queries()["q1_pricing_summary"].fn(spark, SF_SMOKE)
    path = str(tmp_path / "q1_orc")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    # nullability flags legitimately differ after a round-trip; names and
    # types must survive
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    df = all_queries()["q1_pricing_summary"].fn(spark, SF_SMOKE)
    path = str(tmp_path / "q1_csv")
    df.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(df.schema).option("header", True).csv(path)
    # doubles survive CSV via shortest-repr round-trip
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_pipeline_empty_landing_gate(spark, tmp_path):
    """Reference S10: a full pipeline run over an empty landing must fail
    loudly, not silently write nothing; run_silver without the gate is a
    graceful 0-row no-op (the poller shape)."""
    import pytest

    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        run_pipeline,
        run_silver,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    glob = f"{landing}/coincap_data_*.json"
    out = str(tmp_path / "out")
    with pytest.raises(FileNotFoundError, match="matched no snapshot files"):
        run_pipeline(spark, glob, out)
    assert run_silver(spark, glob, out) == 0


def test_jsonl_roundtrip_with_explicit_schema(spark, tmp_path):
    df = all_queries()["q1_pricing_summary"].fn(spark, SF_SMOKE)
    path = str(tmp_path / "q1_jsonl")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(df.schema).json(path)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_sql_entry_point_matches_dataframe_plan(spark):
    """register_views makes the corpus SQL-queryable; a spark.sql join
    produces the same result as the DataFrame formulation (one planner)."""
    from project_crypto_data_engineering_gcp_spark.sources.tables import (
        load_table,
        register_views,
    )

    register_views(spark, SF_SMOKE)
    via_sql = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """
    )
    cust = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    via_df = (
        cust.join(nation, nation.n_nationkey == cust.c_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    assert via_sql.exceptAll(via_df).count() == 0
    assert via_df.exceptAll(via_sql).count() == 0

"""Pipeline-composition API tests: laziness (pushdown through late
transforms), sink round-trips, and operator-as-stage composition."""

from __future__ import annotations

import pyspark.sql.functions as F

from un_datapipeline_spark.pipeline import Pipeline


def test_pipeline_end_to_end(spark, sf_smoke, tmp_path):
    out = f"{tmp_path}/res"
    res = (
        Pipeline(spark)
        .source_table(sf_smoke, "lineitem")
        .transform(lambda df: df.filter(F.col("l_quantity") > 10), "qty_filter")
        .transform(
            lambda df: df.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")),
            "per_flag",
        )
        .sink_parquet(out, mode="overwrite")
        .run()
    )
    assert res.rows == 3
    assert res.sink == f"parquet:{out}"
    assert [s.split(":")[0] for s in res.stages] == [
        "source",
        "transform",
        "transform",
        "sink",
    ]
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.columns) == {"l_returnflag", "n"}


def test_pipeline_stays_lazy_and_pushes_down(spark, sf_smoke):
    # A filter added as the LAST transform must still reach the scan.
    p = (
        Pipeline(spark)
        .source_parquet(f"{sf_smoke}/orders.parquet")
        .transform(lambda df: df.select("o_orderkey", "o_totalprice"))
        .transform(lambda df: df.filter(F.col("o_totalprice") > 100000))
    )
    plan = p.to_df()._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan


def test_pipeline_errors(spark):
    import pytest

    with pytest.raises(ValueError):
        Pipeline(spark).transform(lambda df: df)
    with pytest.raises(ValueError):
        Pipeline(spark).run()

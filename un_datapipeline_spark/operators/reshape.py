"""Reshaping operators: pivot / unpivot (melt) / positional explode —
the wide↔long transformations an ETL surface needs around the
relational core.

Scale notes: `pivot` is given the pivot values explicitly (no extra
distinct-collection job, and the output column set is fixed at plan
time — mandatory at scale where a stray key would explode the schema);
`unpivot` is a per-row expression (no shuffle at all); `posexplode`
preserves array order as an explicit position column so downstream
consumers never depend on row order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import cents_col, cents_sql, load_table

_PIVOT_ORACLE = """
SELECT l_returnflag,
       ROUND(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 4) AS qty_F,
       ROUND(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 4) AS qty_O
FROM lineitem
GROUP BY l_returnflag
"""


@register("reshape_pivot", oracle=_PIVOT_ORACLE, tier="T2")
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide: quantity per returnflag pivoted on linestatus.  Pivot
    values are declared (['F','O']) so the plan is a single pass — the
    oracle is the equivalent FILTERed-aggregate formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return p.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 4).alias("qty_F"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 4).alias("qty_O"),
    )


_UNPIVOT_ORACLE = """
SELECT o_orderkey, measure, ROUND(val, 4) AS val
FROM (
  SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
)
"""


@register("reshape_unpivot", oracle=_UNPIVOT_ORACLE, tier="T2")
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long (melt): two order measures stacked into (key, measure,
    val) rows via the native unpivot operator — a generate expression,
    no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "raw")
        .select("o_orderkey", "measure", F.round("raw", 4).alias("val"))
    )


_POSEXPLODE_ORACLE = """
SELECT vec_id, CAST(pos - 1 AS INT) AS pos, ROUND(CAST(el AS DOUBLE), 6) AS el
FROM (
  SELECT vec_id, unnest(embedding) AS el,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
WHERE vec_id < 50
"""


@register("fn_explode_pos", oracle=_POSEXPLODE_ORACLE, tier="T2")
def fn_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array→rows with ordinality: posexplode keeps the element index as
    data (0-based; DuckDB's subscripts are 1-based, normalized in the
    oracle), so order survives any downstream shuffle."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return em.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select("vec_id", "pos", F.round(F.col("raw").cast("double"), 6).alias("el"))


_TRANSPOSE_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag AS f,
         ROUND(sum(l_quantity), 4) AS sum_qty,
         ROUND(sum({cents_sql("l_extendedprice")}) / 100.0, 4)
           AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT 'sum_qty' AS key,
       max(CASE WHEN f = 'A' THEN sum_qty END) AS a,
       max(CASE WHEN f = 'N' THEN sum_qty END) AS n,
       max(CASE WHEN f = 'R' THEN sum_qty END) AS r
FROM s
UNION ALL
SELECT 'sum_price',
       max(CASE WHEN f = 'A' THEN sum_price END),
       max(CASE WHEN f = 'N' THEN sum_price END),
       max(CASE WHEN f = 'R' THEN sum_price END)
FROM s
UNION ALL
SELECT 'n_rows',
       max(CASE WHEN f = 'A' THEN n_rows END),
       max(CASE WHEN f = 'N' THEN n_rows END),
       max(CASE WHEN f = 'R' THEN n_rows END)
FROM s
"""


@register("reshape_transpose", oracle=_TRANSPOSE_ORACLE, tier="T1")
def reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix transpose of a metrics-by-returnflag summary via the
    Spark 4 ``DataFrame.transpose`` API: rows become the metric names,
    columns become the flag values — the report-rendering flip that
    previously took a pivot + unpivot round-trip (reshape_pivot /
    reshape_unpivot cover those primitives; this is the one-call
    composite).  Transpose is only sane on a SUMMARY frame: the input
    here is the 3-row returnflag rollup, never a fact table — the
    column count equals the row count of the input, so transposing
    anything unaggregated explodes the schema.  All metrics are cast
    to double first because transpose requires one common value type;
    money goes through exact cents."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_returnflag").alias("f")).agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(
            F.sum(cents_col("l_extendedprice")) / 100.0,
            4,
        ).alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    # Spark 4's transpose promotes the index values to column names
    # VERBATIM ('A','N','R' — uppercase); the oracle aliases lowercase.
    # The driver's hash canonicalization sorts columns case-SENSITIVELY
    # ('A','N','R','key' vs 'a','key','n','r'), so a case mismatch
    # misaligns the value columns even when every cell is bit-identical
    # (CORRECTNESS_r05 reshape_transpose FAIL).  Rename explicitly —
    # and emit the FIXED (a, n, r) schema with NULLs for flags absent
    # from the data, matching the oracle's CASE columns (a tiny corpus
    # with two flags made the old fixed-arity toDF crash — round-6
    # tiny-tables sweep).
    t = s.transpose("f")
    present = {c.lower(): c for c in t.columns}
    return t.select(
        F.col(present["key"]).alias("key"),
        *[
            (
                F.col(present[f]) if f in present else F.lit(None).cast("double")
            ).alias(f)
            for f in ("a", "n", "r")
        ],
    )

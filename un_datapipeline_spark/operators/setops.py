"""Set operations (SURVEY.md §2.G).

UNION ALL is a zero-shuffle concatenation of children; the distinct
variants add one hash-aggregate shuffle on the full row.  INTERSECT /
EXCEPT compile to left-semi / left-anti joins over distinct inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import cents_col, cents_sql, load_table

_DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


@register("distinct_rows", oracle=_DISTINCT_ORACLE, tier="T0")
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (returnflag, linestatus) pairs."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


_UNION_ALL_ORACLE = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
"""


@register("set_union_all", oracle=_UNION_ALL_ORACLE, tier="T1")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (duplicates preserved) of two custkey sources."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionAll(b)


_UNION_DISTINCT_ORACLE = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
"""


@register("set_union_distinct", oracle=_UNION_DISTINCT_ORACLE, tier="T1")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union with dedup."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.union(b).distinct()


_INTERSECT_ORACLE = """
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
"""


@register("set_intersect", oracle=_INTERSECT_ORACLE, tier="T1")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation keys present in both customer and supplier."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


_EXCEPT_ORACLE = """
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
"""


@register("set_except", oracle=_EXCEPT_ORACLE, tier="T1")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with finished orders but no open ones.  (The round-1
    formulation — customer nations minus supplier nations — returned 0
    rows at every SF, so its driver pass verified only vacuously; this
    one yields 46 rows at sf0.01.)"""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return a.subtract(b)


_INTERSECT_ALL_ORACLE = """
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_totalprice > 100000
"""


@register("set_intersect_all", oracle=_INTERSECT_ALL_ORACLE, tier="T2")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics intersection (multiplicity = min of the two sides)
    — intersectAll keeps duplicate cardinalities, unlike set intersect."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))
    return a.intersectAll(b)


_EXCEPT_ALL_ORACLE = """
SELECT o_custkey AS k FROM orders
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


@register("set_except_all", oracle=_EXCEPT_ALL_ORACLE, tier="T2")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics difference (multiplicity = left minus right count,
    floored at zero) via exceptAll."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b)


_UNION_BY_NAME_ORACLE = f"""
WITH legacy AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
), extended AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
), unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority FROM legacy
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM extended
)
SELECT COALESCE(o_orderpriority, '<missing>') AS prio,
       count(*) AS n,
       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS cents
FROM unioned
GROUP BY 1
ORDER BY 1
"""


@register("set_union_by_name", oracle=_UNION_BY_NAME_ORACLE, tier="T1")
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift-tolerant union: `unionByName(allowMissingColumns=
    True)` aligns columns BY NAME and null-fills columns one side lacks
    — the union a pipeline needs when upstream added a column mid-stream
    (positional UNION would silently misalign or reject).  Modeled here
    as a legacy slice (no priority column) unioned with the extended
    slice; the rollup proves null-filled rows survive with their money
    intact.  This is the READ-side companion of src_schema_evolution's
    mergeSchema: one handles drifted files, this handles drifted
    DataFrames.  Plan is a pure unioned scan — no shuffle until the
    final rollup."""
    o = load_table(spark, sf_dir, "orders")
    legacy = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    extended = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    u = legacy.unionByName(extended, allowMissingColumns=True)
    return (
        u.groupBy(
            F.coalesce("o_orderpriority", F.lit("<missing>")).alias("prio")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col("o_totalprice")).alias("cents"),
        )
        .orderBy("prio")
    )

"""Aggregation operators (SURVEY.md §2.D).

All aggregates run as Spark hash aggregations with automatic
partial (map-side) + final phases — the shuffle moves only the grouped
partial states, never raw rows, so these scale linearly with input and
the shuffle volume is bounded by |groups| × partitions.  Double-typed
aggregates are wrapped in ROUND on BOTH the Spark and oracle side
(hash-parity rule, SURVEY.md §5.3.1).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import (
    cents2_sum,
    cents2_sum_sql,
    cents_col,
    cents_sql,
    cents_sum_sql,
    load_table,
)

# Exact-arithmetic formulation (SURVEY.md §5.3.1 extended): prices,
# discounts, and taxes are exact 2-decimal values (verified), so every
# money aggregate is computed as an INTEGER sum of (scaled) cents and
# divided once — bit-identical in both engines at any scale.  A float
# sum of `price*(1-d)*(1+t)` has a 6-decimal true value whose rounding
# at 4dp sits on a .5 boundary ~1% of the time per group, where
# summation-order ulps flip the digit (observed in ts_resample_ffill).
_PRICING_SUMMARY_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       ROUND(sum(CAST(round(l_quantity) AS BIGINT)) / 1.0, 4)        AS sum_qty,
       ROUND(sum({cents_sql("l_extendedprice")}) / 100.0, 4) AS sum_base_price,
       ROUND(sum({cents_sql("l_extendedprice")}
               * (100 - {cents_sql("l_discount")})) / 10000.0, 4) AS sum_disc_price,
       ROUND(sum({cents_sql("l_extendedprice")}
               * (100 - {cents_sql("l_discount")})
               * (100 + {cents_sql("l_tax")})) / 1000000.0, 4) AS sum_charge,
       ROUND(sum(CAST(round(l_quantity) AS BIGINT)) / (1.0 * count(*)), 6) AS avg_qty,
       ROUND(sum({cents_sql("l_extendedprice")}) / (100.0 * count(*)), 6) AS avg_price,
       ROUND(sum({cents_sql("l_discount")}) / (100.0 * count(*)), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("agg_pricing_summary", oracle=_PRICING_SUMMARY_ORACLE, tier="T0")
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship query (`entry()` runs this).

    Scan→filter→hash-agg: the shipdate predicate and 7-column projection
    push down into the parquet scan; the groupBy keys have 6 distinct
    combinations so the exchange after partial agg carries ~6 rows per
    task regardless of scale factor.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # integer scaled-cents lanes (exact at any summation order; a long
    # sum overflows only past ~$9e14 of charge — use DecimalType there)
    qty_i = F.round("l_quantity").cast("long")
    price_c = cents_col("l_extendedprice")
    disc_c = cents_col("l_discount")
    tax_c = cents_col("l_tax")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty_i) / 1.0, 4).alias("sum_qty"),
            F.round(F.sum(price_c) / 100.0, 4).alias("sum_base_price"),
            F.round(F.sum(price_c * (100 - disc_c)) / 10000.0, 4).alias("sum_disc_price"),
            F.round(
                F.sum(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0, 4
            ).alias("sum_charge"),
            F.round(F.sum(qty_i) / (1.0 * n), 6).alias("avg_qty"),
            F.round(F.sum(price_c) / (100.0 * n), 6).alias("avg_price"),
            F.round(F.sum(disc_c) / (100.0 * n), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_COUNT_DISTINCT_ORACLE = """
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       count(DISTINCT c_acctbal)   AS n_balances,
       count(*)                    AS n_rows
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_count_distinct", oracle=_COUNT_DISTINCT_ORACLE, tier="T1")
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact distinct counts in one aggregate (Spark expands
    to a single multi-distinct hash aggregate)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.countDistinct("c_acctbal").alias("n_balances"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, ROUND(sum(l_quantity), 4) AS sq
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE, tier="T1")
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus): per-pair, per-flag, grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sq")
    )


_HAVING_ORACLE = """
SELECT l_orderkey, ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
GROUP BY l_orderkey
HAVING sum(l_extendedprice * (1 - l_discount)) > 300000
"""


@register("agg_having", oracle=_HAVING_ORACLE, tier="T1")
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING): high-revenue orders only.
    The filter applies to the unrounded aggregate, like the SQL text."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.round(rev, 4).alias("revenue"),
            rev.alias("_raw_rev"),
        )
        .filter(F.col("_raw_rev") > 300000)
        .select("l_orderkey", "revenue")
    )


@register("agg_approx_distinct", oracle=None, tier="T2")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct of l_partkey per returnflag (rows-only:
    sketch estimates are engine-specific by design — SURVEY.md §2.D).
    Constant-memory per group at any scale, unlike exact distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.count(F.lit(1)).alias("n"),
    )


# Shared SQL text (valid in both dialects) — engine runs it via spark.sql
# over temp views (entry point 3, SURVEY.md §3).
_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL, tier="T2")
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() markers — identical SQL text runs on
    both engines (the SQL entry point)."""
    from un_datapipeline_spark.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, ROUND(sum(l_quantity), 4) AS sq
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_ORACLE, tier="T2")
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all 4 grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sq")
    )


# Moment-based formulation over exact integer lanes (quantities are
# integers, prices exact cents — verified): Σq, Σq², Σp, Σp², Σqp are
# exact longs at ANY summation order, and both engines then evaluate the
# SAME closed-form expressions over identical operands — stddev/var/
# corr/covar become bit-identical instead of depending on each engine's
# streaming-moments accumulation order.
_STATS_MOMENTS = f"""
  SELECT l_returnflag,
         count(*)                                                   AS n,
         sum(CAST(round(l_quantity) AS BIGINT))                     AS sq,
         sum(CAST(round(l_quantity) AS BIGINT)
           * CAST(round(l_quantity) AS BIGINT))                     AS sqq,
         sum({cents_sql("l_extendedprice")})          AS sp,
         sum(CAST(round(l_extendedprice * 100) AS DOUBLE)
           * CAST(round(l_extendedprice * 100) AS DOUBLE))          AS spp,
         sum(CAST(round(l_quantity) AS BIGINT)
           * {cents_sql("l_extendedprice")})          AS sqp,
         arg_min(l_orderkey, l_extendedprice)                       AS cheapest_order,
         arg_max(l_orderkey, l_extendedprice)                       AS priciest_order
  FROM lineitem
  GROUP BY l_returnflag
"""

# nullif'd denominators: a single-row group (n=1) or a zero-variance
# lane makes every sample statistic undefined — NULL on both engines
# (ANSI Spark would throw where DuckDB already NULLs; round-6
# tiny-tables sweep).
_STATS_ORACLE = f"""
SELECT l_returnflag,
       ROUND(sqrt((1.0 * n * sqq - 1.0 * sq * sq)
             / nullif(1.0 * n * (n - 1), 0)), 6)                             AS sd_qty,
       ROUND((1.0 * n * sqq - 1.0 * sq * sq)
             / nullif(1.0 * n * (n - 1), 0), 6)                              AS var_qty,
       ROUND((1.0 * n * sqp - 1.0 * sq * sp)
             / nullif(sqrt(1.0 * n * sqq - 1.0 * sq * sq)
              * sqrt(1.0 * n * spp - 1.0 * sp * sp), 0), 6)                  AS corr_qp,
       ROUND((1.0 * n * sqp - 1.0 * sq * sp)
             / nullif(100.0 * n * (n - 1), 0), 6)                            AS covar_qp,
       cheapest_order, priciest_order
FROM ({_STATS_MOMENTS})
"""


@register("agg_stats", oracle=_STATS_ORACLE, tier="T2")
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates + arg-min/max via exact integer moments
    (see _STATS_ORACLE note).  arg-min/max deterministic because the
    per-group price extremes are unique in this data (verified at
    sf0.01/0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round("l_quantity").cast("long")
    p = cents_col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("sq"),
        F.sum(q * q).alias("sqq"),
        F.sum(p).alias("sp"),
        # Σp² overflows a long past ~$3e5·√rows — double lane instead;
        # safe because its only consumer (corr) has an irrational true
        # value, never exactly on a rounding boundary.
        F.sum(p.cast("double") * p.cast("double")).alias("spp"),
        F.sum(q * p).alias("sqp"),
        F.min_by("l_orderkey", "l_extendedprice").alias("cheapest_order"),
        F.max_by("l_orderkey", "l_extendedprice").alias("priciest_order"),
    )
    n, sq, sqq = F.col("n"), F.col("sq"), F.col("sqq")
    sp, spp, sqp = F.col("sp"), F.col("spp"), F.col("sqp")
    # nullif'd denominators — sample statistics of a 1-row group are
    # undefined: NULL on both engines (see _STATS_ORACLE note)
    var_q = (1.0 * n * sqq - 1.0 * sq * sq) / F.nullif(
        1.0 * n * (n - 1), F.lit(0.0)
    )
    return m.select(
        "l_returnflag",
        F.round(F.sqrt(var_q), 6).alias("sd_qty"),
        F.round(var_q, 6).alias("var_qty"),
        F.round(
            (1.0 * n * sqp - 1.0 * sq * sp)
            / F.nullif(
                F.sqrt(1.0 * n * sqq - 1.0 * sq * sq)
                * F.sqrt(1.0 * n * spp - 1.0 * sp * sp),
                F.lit(0.0),
            ),
            6,
        ).alias("corr_qp"),
        F.round(
            (1.0 * n * sqp - 1.0 * sq * sp)
            / F.nullif(100.0 * n * (n - 1), F.lit(0.0)),
            6,
        ).alias("covar_qp"),
        "cheapest_order",
        "priciest_order",
    )


_PCTL_ORACLE = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders
GROUP BY o_orderstatus
"""


@register("agg_percentile_exact", oracle=_PCTL_ORACLE, tier="T2")
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median + p90 per order status (Spark
    `percentile` ≡ DuckDB `quantile_cont`, both linear interpolation)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


_COLLECT_ORACLE = """
SELECT n.n_name,
       array_to_string(list_sort(list(s.s_name)), '|') AS supplier_names
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("agg_collect_sorted", oracle=_COLLECT_ORACLE, tier="T2")
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation, the sorted list of supplier names — collect_list order
    is nondeterministic, so BOTH sides sort (SURVEY.md §5.3.3), and the
    sorted list is serialized with array_join because the driver's
    canonicalizer cannot hash raw array cells (r1 HARNESS-ERR)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), "|").alias(
                "supplier_names"
            )
        )
    )


_HIST_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(min(o_totalprice), 4) AS lo,
       ROUND(max(o_totalprice), 4) AS hi
FROM orders
GROUP BY bucket
"""


@register("agg_histogram", oracle=_HIST_ORACLE, tier="T2")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k buckets) via portable
    floor-division bucketing — one scan, partial-aggregable, bucket
    count bounded by the value range, not the row count."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# IQR outlier detection
# ---------------------------------------------------------------------------

_IQR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(q.q1, 6) AS q1,
       ROUND(q.q3, 6) AS q3,
       count(*) AS n_events,
       CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN e.value > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.q1, q.q3
"""


@register("agg_iqr_outliers", oracle=_IQR_ORACLE, tier="T2")
def agg_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts per event type: interpolated quartiles
    (Spark `percentile` ≡ DuckDB `quantile_cont` on the same doubles, so
    the fences q1−1.5·IQR / q3+1.5·IQR are bit-identical) and the count
    of events outside them — the standard robust filter for metric
    streams whose tails would wreck a mean/stddev gate.

    Scale shape: exact quantiles need the per-type value multiset — at
    bench scale that is one shuffle on 5 keys; at 100 TB swap the exact
    quantile for approx_percentile (same plan, sketch merge) and keep the
    fence math unchanged.  The second pass is a broadcast join of 5 fence
    rows onto one scan."""
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("value") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(F.col("value") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
        .select(
            "event_type",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            "n_events",
            "n_low",
            "n_high",
        )
    )


# ---------------------------------------------------------------------------
# Sketch mergeability (HLL)
# ---------------------------------------------------------------------------


@register("agg_sketch_mergeable", oracle=None, tier="T2")
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL mergeability demo: per-nation customer-key
    sketches, merged with hll_union_agg, must estimate the SAME
    cardinality as one global sketch — the algebraic property that lets
    distinct-counting scale (partial sketches per partition/day/shard,
    merged later, no re-scan).  Rows-only: sketch binaries are
    engine-specific; pytest asserts merged == global exactly and both
    within 2% of the true distinct count.

    Scale shape: both paths are one partial-aggregated scan; the merge
    input is 25 nation-sized sketch blobs."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("cust_sk")
    per_nation = spark.sql(
        "SELECT c_nationkey, hll_sketch_agg(c_custkey) AS sk "
        "FROM cust_sk GROUP BY c_nationkey"
    )
    per_nation.createOrReplaceTempView("nation_sk")
    merged = spark.sql(
        "SELECT 'merged' AS scope, "
        "hll_sketch_estimate(hll_union_agg(sk)) AS est FROM nation_sk"
    )
    global_ = spark.sql(
        "SELECT 'global' AS scope, "
        "hll_sketch_estimate(hll_sketch_agg(c_custkey)) AS est FROM cust_sk"
    )
    return merged.unionByName(global_).orderBy("scope")


# ---------------------------------------------------------------------------
# Count-min-sketch frequency estimation (DataFrame-native)
# ---------------------------------------------------------------------------

_CMS_ORACLE = """
SELECT event_type, count(*) AS est_count
FROM events GROUP BY event_type
"""


@register("agg_freq_sketch_cms", oracle=_CMS_ORACLE, tier="T2")
def agg_freq_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built as a DataFrame program: 3 hash rows
    (xxhash64 with per-row seed) × 512 buckets, counts per cell, then
    each key's estimate = min over rows of its cell count.  With 5
    distinct keys in 512 buckets there are no collisions, so the
    estimate equals the EXACT count — which the oracle asserts (the
    general CMS bound is est ≥ true, ≤ true + ε·N).

    Scale shape: the sketch is a groupBy on (row, bucket) — at most
    3×512 cells regardless of input size, built with partial aggregation
    in one scan.  The probe joins the (tiny, broadcast) cell table back
    to the distinct keys.  This replaces a vocabulary-sized shuffle with
    a constant-size one when only hot-key estimates are needed — and
    unlike the JVM sketch blob, every step is visible to Catalyst."""
    e = load_table(spark, sf_dir, "events")
    depth, width = 3, 512
    rows = [
        e.select(
            F.lit(d).alias("row"),
            (F.abs(F.xxhash64(F.col("event_type"), F.lit(d))) % width).alias(
                "bucket"
            ),
            "event_type",
        )
        for d in range(depth)
    ]
    hashed = rows[0].unionByName(rows[1]).unionByName(rows[2])
    cells = hashed.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cell_count"))
    probes = (
        e.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("row"),
        )
        .select(
            "event_type",
            "row",
            (F.abs(F.xxhash64(F.col("event_type"), F.col("row"))) % width).alias(
                "bucket"
            ),
        )
    )
    return (
        probes.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("event_type")
        .agg(F.min("cell_count").alias("est_count"))
    )


_WEIGHTED_ORACLE = f"""
SELECT l_returnflag,
       CAST(sum(l_quantity) AS BIGINT) AS total_qty,
       ROUND(sum({cents_sql("l_extendedprice")} * CAST(l_quantity AS BIGINT))
             / (100.0 * sum(CAST(l_quantity AS BIGINT))), 6) AS wavg_price,
       ROUND(sum(CAST(round(l_discount * 10000) AS BIGINT) * CAST(l_quantity AS BIGINT))
             / (10000.0 * sum(CAST(l_quantity AS BIGINT))), 6) AS wavg_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_weighted_avg", oracle=_WEIGHTED_ORACLE, tier="T2")
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price and discount per return flag —
    the weighted-mean aggregate (plain avg answers a different question
    when line sizes vary).  Weights are integer quantities and money is
    scaled to integer cents / discount to basis points before the
    multiply-sum, so both engines sum EXACT integers and divide once at
    the end — the ROUND_NOTES float policy applied to a product
    aggregate, where a double multiply-sum would be order-dependent.
    Map-side partial sums of two integer columns; the shuffle carries
    one row per (flag, partial) — nothing here grows with scale."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    price_c = cents_col("l_extendedprice")
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(qty).alias("total_qty"),
            F.round(
                F.sum(price_c * qty) / (100.0 * F.sum(qty)), 6
            ).alias("wavg_price"),
            F.round(
                F.sum(disc_bp * qty) / (10000.0 * F.sum(qty)), 6
            ).alias("wavg_disc"),
        )
        .orderBy("l_returnflag")
    )


_BITMAP_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("agg_bitmap_distinct", oracle=_BITMAP_ORACLE, tier="T2")
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type computed through Spark's
    bitmap aggregate family instead of COUNT(DISTINCT): each key is
    mapped to (bucket, bit-position), per-partition bitmaps are OR-merged
    through the shuffle, and the final count sums bitmap_count over
    buckets.  Same answer as COUNT(DISTINCT) — the oracle IS
    count(distinct) — but the shuffle carries fixed-size bitmap blobs
    per (group, bucket) instead of every distinct raw value, the way
    exact-distinct rollups stay affordable over 100 TB when the key
    domain is dense integers.  (approx_count_distinct is the ε-tolerant
    cousin; this one is exact.)"""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_users"))
        .orderBy("event_type")
    )


_LISTAGG_ORACLE = """
SELECT l_returnflag, statuses,
       CAST(len(string_split(statuses, '|')) AS INT) AS n_statuses
FROM (
  SELECT l_returnflag,
         string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS statuses
  FROM lineitem GROUP BY l_returnflag)
ORDER BY l_returnflag
"""


@register("agg_listagg_sorted", oracle=_LISTAGG_ORACLE, tier="T2")
def agg_listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with DISTINCT + explicit ORDER BY — the
    delimiter-joined label rollup (report columns, tag lists).  An
    unordered listagg is nondeterministic across partitionings, so the
    contract REQUIRES the order clause; Spark's listagg(DISTINCT ...
    WITHIN GROUP) matches DuckDB's string_agg(DISTINCT ... ORDER BY).
    Distinct-set size per group is bounded by the label domain, so the
    aggregation state never scales with row count.

    Engine bug, probed and avoided: pairing listagg(DISTINCT) with a
    SECOND distinct aggregate (count(DISTINCT)) in one Aggregate crashes
    Spark's RewriteDistinctAggregates (ListAgg.withNewChildrenInternal),
    so the distinct-label count is derived from the joined string in a
    follow-up projection instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "listagg(DISTINCT l_linestatus, '|') WITHIN GROUP (ORDER BY l_linestatus)"
            ).alias("statuses"),
        )
        .select(
            "l_returnflag",
            "statuses",
            F.size(F.split("statuses", "\\|")).alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


_TTEST_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST({cents_sum_sql()} AS BIGINT)  AS s,
         {cents2_sum_sql()} AS ss
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type
), w AS (
  SELECT
    (SELECT n  FROM m WHERE event_type = 'purchase') AS n1,
    (SELECT s  FROM m WHERE event_type = 'purchase') AS s1,
    (SELECT ss FROM m WHERE event_type = 'purchase') AS ss1,
    (SELECT n  FROM m WHERE event_type = 'click')    AS n2,
    (SELECT s  FROM m WHERE event_type = 'click')    AS s2,
    (SELECT ss FROM m WHERE event_type = 'click')    AS ss2
)
SELECT n1, n2,
       -- unrounded means (r12 magneg catalog): ROUND(x,6) is
       -- ill-defined once |mean| ulp > 1e-6 (a striped 1e13 value
       -- moves a group mean to ~3e11 where the two engines picked
       -- different nearest doubles); the raw division of the exact
       -- BIGINT moment is bit-identical on both engines
       s1 / (100.0 * n1) AS mean_a,
       s2 / (100.0 * n2) AS mean_b,
       ROUND((CAST(CAST(ss1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
             / ((n1 - 1) * 10000.0), 6) AS var_a,
       ROUND((CAST(CAST(ss2 AS VARCHAR) AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
             / ((n2 - 1) * 10000.0), 6) AS var_b,
       ROUND((s1 / (100.0 * n1) - s2 / (100.0 * n2))
             / sqrt((CAST(CAST(ss1 AS VARCHAR) AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / ((n1 - 1) * 10000.0) / n1
                  + (CAST(CAST(ss2 AS VARCHAR) AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                      / ((n2 - 1) * 10000.0) / n2), 6)
         AS t_welch
FROM w
"""


@register("agg_ab_ttest", oracle=_TTEST_ORACLE, tier="T2")
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic between purchase and click values —
    the A/B significance primitive, computed entirely from EXACT integer
    moments (n, Σcents, Σcents²; all < 2^53) so both engines evaluate
    the LITERAL same double expression on identical operands —
    bit-identical before rounding, immune to accumulation-order drift
    (the only float hazard in distributed statistics).  One scan, one
    2-group aggregate, a 1-row pivot; at 100 TB the moments come from
    map-side partial sums and the t-math is constant-time."""
    ev = load_table(spark, sf_dir, "events")
    # The second moment rides DECIMAL(38,0) (cents2_sum); the first keeps
    # the long lane (10x headroom at the 9e15 ingest bound).
    m = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col("value")).alias("s"),
            cents2_sum().alias("ss"),
        )
    )
    w = (
        m.groupBy()
        .pivot("event_type", ["purchase", "click"])
        .agg(F.first("n").alias("n"), F.first("s").alias("s"), F.first("ss").alias("ss"))
        .select(
            F.col("purchase_n").alias("n1"),
            F.col("purchase_s").alias("s1"),
            F.col("purchase_ss").alias("ss1"),
            F.col("click_n").alias("n2"),
            F.col("click_s").alias("s2"),
            F.col("click_ss").alias("ss2"),
        )
    )
    mean_a = F.col("s1") / (100.0 * F.col("n1"))
    mean_b = F.col("s2") / (100.0 * F.col("n2"))
    var_a = (F.col("ss1") - F.col("s1") * 1.0 * F.col("s1") / F.col("n1")) / (
        (F.col("n1") - 1) * 10000.0
    )
    var_b = (F.col("ss2") - F.col("s2") * 1.0 * F.col("s2") / F.col("n2")) / (
        (F.col("n2") - 1) * 10000.0
    )
    return w.select(
        "n1",
        "n2",
        # unrounded (see oracle note): ill-defined ROUND at wide means
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        F.round(var_a, 6).alias("var_a"),
        F.round(var_b, 6).alias("var_b"),
        F.round(
            (mean_a - mean_b)
            / F.sqrt(var_a / F.col("n1") + var_b / F.col("n2")),
            6,
        ).alias("t_welch"),
    )


_APPROX_TOPK_ORACLE = """
SELECT event_type AS item, count(*) AS cnt
FROM events
GROUP BY event_type
ORDER BY cnt DESC, item
LIMIT 3
"""


@register("agg_approx_topk", oracle=_APPROX_TOPK_ORACLE, tier="T2")
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via ``approx_top_k`` (Spark 4's sketch-backed
    frequent-items aggregate): one pass, bounded sketch state per
    partition, mergeable partials — at 100 TB this replaces the full
    groupBy+sort when only the top handful of keys matter (the sketch is
    KB-sized regardless of key cardinality).  On the 5-key event_type
    column the sketch is exact and the count boundaries are untied at
    every shipped scale factor (probed: sf0.001 201 vs 199, sf0.01 2006
    vs 1982, sf0.1 19941 vs 19863), so the exact GROUP BY oracle
    hash-matches; the explode is re-sorted (cnt DESC, item) because
    within-sketch tie order is not contractual."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
        .select(F.explode("tk").alias("x"))
        .select(
            F.col("x.item").alias("item"),
            F.col("x.count").cast("long").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "item")
    )


_DECIMAL_EXACT_ORACLE = """
SELECT l_returnflag,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(12,6))), 2) AS DOUBLE)
         AS revenue_exact,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_decimal_exact", oracle=_DECIMAL_EXACT_ORACLE, tier="T1")
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math on the exact DECIMAL path: each factor is cast to a
    fixed-point decimal BEFORE multiplying, so products and the group
    sums are exact integers-with-scale — no accumulation-order ulps, no
    float drift, the same value on any partitioning (the property float
    revenue aggregates only approximate).  Result precision stays well
    under Spark's 38-digit cap (18,4 × 12,6 → 31,10), so no silent
    scale truncation; the final round(…, 2)→DOUBLE is applied AFTER the
    exact sum in both engines and is therefore bit-identical.  This is
    the ledger-grade aggregation surface: at 100 TB the plan is still
    one partial+final hash agg (decimal sums are mergeable), just with
    128-bit accumulators instead of doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount")).cast("decimal(12,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue_exact"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


_FILTER_CLAUSE_ORACLE = f"""
SELECT o_orderstatus,
       count(*)                                                  AS n_all,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')      AS n_urgent,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')         AS n_low,
       CAST(COALESCE(sum({cents_sql("o_totalprice")})
              FILTER (WHERE o_orderpriority = '1-URGENT'), 0) AS BIGINT)
                                                                 AS urgent_cents,
       count(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 200000)
                                                                 AS big_spenders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("agg_filter_clause", oracle=_FILTER_CLAUSE_ORACLE, tier="T1")
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the ANSI FILTER clause — several
    differently-predicated aggregates (plain, filtered counts, filtered
    exact-cent sum, filtered distinct) from ONE scan and one hash agg,
    the idiom that replaces N self-joins or a pivot when each metric has
    its own WHERE.  Catalyst plans all five aggregates in a single
    partial+final pass, so at 100 TB this costs exactly one shuffle
    keyed by the group — adding another FILTER metric is free.  The
    filtered sum rides the integer-cent lane and coalesces to 0 for
    groups with no urgent orders (SQL FILTER yields NULL on an empty
    set, in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    cents = cents_col("o_totalprice")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(urgent, 1)).alias("n_urgent"),
            F.count(F.when(F.col("o_orderpriority") == "5-LOW", 1)).alias("n_low"),
            F.coalesce(F.sum(F.when(urgent, cents)), F.lit(0))
            .cast("long")
            .alias("urgent_cents"),
            F.count_distinct(
                F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
            ).alias("big_spenders"),
        )
        .orderBy("o_orderstatus")
    )


_BOOL_LOGIC_ORACLE = """
SELECT l_returnflag,
       bool_and(l_quantity >= 1)   AS all_qty_pos,
       bool_or(l_discount = 0)     AS any_zero_disc,
       bool_and(l_tax < 0.09)      AS all_low_tax,
       bool_or(l_quantity > 49)    AS any_qty_max,
       count(*)                    AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_bool_logic", oracle=_BOOL_LOGIC_ORACLE, tier="T1")
def agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-logic aggregates (bool_and / bool_or, the ANSI EVERY/ANY):
    data-quality style assertions evaluated as aggregates — "does every
    row satisfy P, does any row satisfy Q" per group — in one hash agg.
    These short-circuit in the partial phase (a partition that has seen
    a false for bool_and contributes a constant), so the shuffle carries
    one boolean per group per metric regardless of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_quantity") >= 1).alias("all_qty_pos"),
            F.bool_or(F.col("l_discount") == 0).alias("any_zero_disc"),
            F.bool_and(F.col("l_tax") < 0.09).alias("all_low_tax"),
            F.bool_or(F.col("l_quantity") > 49).alias("any_qty_max"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


_GROUPING_ID_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT)              AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT)              AS g_status,
       CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n
FROM (SELECT l_returnflag,
             CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_linestatus END
               AS l_linestatus,
             l_orderkey
      FROM lineitem)
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tier="T2")
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() over a CUBE whose input CONTAINS real
    NULLs (1-in-11 statuses nulled): without the grouping indicators, a
    subtotal row (status rolled up ⇒ NULL) is indistinguishable from the
    group of genuinely-NULL statuses — the classic cube-consumption bug.
    GROUPING(col)=1 marks "NULL because rolled up", 0 marks data; the
    bit-packed GROUPING_ID keys the aggregation level for downstream
    routing.  Same one-shuffle expanded-aggregate plan as agg_cube; the
    indicator costs nothing (it rides the grouping-set expansion id
    Spark already carries)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 11 == 0, None)
        .otherwise(F.col("l_linestatus"))
        .alias("l_linestatus"),
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "gid", "n"
        )
        .orderBy(
            "gid",
            F.asc_nulls_first("l_returnflag"),
            F.asc_nulls_first("l_linestatus"),
        )
    )


_PCTL_DISC_ORACLE = """
SELECT o_orderstatus,
       percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
       percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90,
       percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("agg_percentile_disc", oracle=_PCTL_DISC_ORACLE, tier="T1")
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc WITHIN GROUP): unlike the
    interpolating percentile_cont (agg_percentile_exact), _disc returns
    an ACTUAL data value — the smallest value whose cumulative share
    reaches p.  That's the right statistic whenever interpolated values
    are meaningless (latency buckets, price points, ids) — and it is
    float-parity-trivial: both engines return the same stored double,
    no arithmetic to drift (probed identical unrounded).  Same
    sort-aggregate cost profile as exact percentiles: per-group sort,
    fine at bounded group width; at unbounded width switch to
    approx_percentile's sketch."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pctl_disc_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.9)  WITHIN GROUP (ORDER BY o_totalprice) AS p90,
               percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS p99,
               count(*) AS n
        FROM pctl_disc_orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


_SKEW_KURT_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND((1.0 * n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
             / (1.0 * n * n * n)
             / nullif(pow((1.0 * n * s2 - 1.0 * s1 * s1) / (1.0 * n * n), 1.5), 0), 6)
         AS skewness,
       ROUND((1.0 * n * n * n * s4 - 4.0 * n * n * s1 * s3
              + 6.0 * n * s1 * s1 * s2 - 3.0 * s1 * s1 * s1 * s1)
             / (1.0 * n * n * n * n)
             / nullif(pow((1.0 * n * s2 - 1.0 * s1 * s1) / (1.0 * n * n), 2.0), 0) - 3.0, 6)
         AS excess_kurtosis
FROM m
ORDER BY l_returnflag
"""


@register("agg_skew_kurtosis", oracle=_SKEW_KURT_ORACLE, tier="T2")
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group — the 3rd/4th
    distribution-shape moments agg_stats (2nd) stops short of — via the
    exact-integer-moment lane: quantities are small integers, so Σx,
    Σx², Σx³, Σx⁴ are exact BIGINTs (max ~4·10¹³ at sf0.1, no overflow;
    cent-scaled MONEY cubes WOULD overflow — that column would need
    DECIMAL(38) accumulators) and each output is ONE closed-form float
    expression over them — bit-identical on any partitioning, which is
    why this op does NOT use the built-in skewness()/kurtosis()
    (streaming float accumulators whose merge order is partition-
    dependent, and whose population-vs-sample convention differs across
    engines).  Four integer sums in one partial+final hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    var_pop = (1.0 * n * s2 - 1.0 * s1 * s1) / (1.0 * n * n)
    m3 = (1.0 * n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1) / (1.0 * n * n * n)
    m4 = (
        1.0 * n * n * n * s4
        - 4.0 * n * n * s1 * s3
        + 6.0 * n * s1 * s1 * s2
        - 3.0 * s1 * s1 * s1 * s1
    ) / (1.0 * n * n * n * n)
    # nullif: a constant (or 1-row) group has zero population variance
    # — shape moments are undefined there, NULL on both engines
    # (round-6 tiny-tables sweep)
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(
            m3 / F.nullif(F.pow(var_pop, 1.5), F.lit(0.0)), 6
        ).alias("skewness"),
        F.round(
            m4 / F.nullif(F.pow(var_pop, 2.0), F.lit(0.0)) - 3.0, 6
        ).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (bounded-memory mergeable sketch + exact verify)
# ---------------------------------------------------------------------------

_MG_SLOTS = 256
_MG_TOPN = 10

_MG_ORACLE = f"""
WITH words AS (
  SELECT lower(w) AS w
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
)
SELECT w AS word, CAST(count(*) AS BIGINT) AS n
FROM words GROUP BY w
ORDER BY n DESC, w LIMIT {_MG_TOPN}
"""


def mg_survivors(words: "DataFrame") -> "DataFrame":
    """Per-partition Misra-Gries: stream each partition's words through a
    `_MG_SLOTS`-entry counter table (decrement-all when full), emitting the
    surviving candidates.  Any word with global frequency > N/_MG_SLOTS is
    GUARANTEED to survive in at least one partition (pigeonhole over the
    per-partition guarantee), so the union of survivors is a superset of
    every true heavy hitter — with at most _MG_SLOTS × n_partitions rows."""
    import pandas as pd

    def kernel(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["w"]:
                if w in counts:
                    counts[w] += 1
                elif len(counts) < _MG_SLOTS:
                    counts[w] = 1
                else:
                    dead = [k for k in counts if counts[k] == 1]
                    for k in counts:
                        counts[k] -= 1
                    for k in dead:
                        del counts[k]
        yield pd.DataFrame({"w": list(counts.keys())})

    return words.mapInPandas(kernel, "w string")


@register("agg_heavy_hitters_mg", oracle=_MG_ORACLE, tier="T3")
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter words via the Misra-Gries summary — the
    bounded-memory alternative to a full distributed count when the key
    cardinality is huge: stage 1 streams every partition through a
    256-slot MG counter (mapInPandas, O(slots) memory regardless of
    vocabulary size), stage 2 re-counts ONLY the surviving candidates
    exactly (broadcast semi-join against the survivor set) and keeps the
    top 10 by (count DESC, word).

    The MG guarantee makes the output EXACT, not approximate: any word
    with frequency > N/256 must survive stage 1, and the real top-10
    words (stopwords at ≈N/50 each) clear that bar with an order of
    magnitude to spare — so the recounted top-10 equals the true top-10
    and the driver hash-matches it against the brute-force oracle
    (tests/test_llm_invariants.py::test_mg_survivor_superset asserts the
    superset property itself).

    Scale shape: stage 1 is one scan with constant memory and NO
    shuffle; stage 2 shuffles only candidate-matching words (≤ slots ×
    partitions keys).  Compare agg_approx_topk (engine sketch,
    approximate counts) — MG + recount trades a second scan for
    exactness."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    surv = mg_survivors(words).distinct()
    exact = (
        words.join(F.broadcast(surv), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.select(F.col("w").alias("word"), F.col("n").cast("long"))
        .orderBy(F.col("n").desc(), "word")
        .limit(_MG_TOPN)
    )


# ---------------------------------------------------------------------------
# Weighted median / weighted percentiles (exact, running-weight formulation)
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = f"""
WITH w AS (
  SELECT l_returnflag,
         {cents_sql("l_extendedprice")} AS price_c,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
), cum AS (
  SELECT l_returnflag, price_c, wt,
         sum(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY price_c, wt
                       ROWS UNBOUNDED PRECEDING) AS cw,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM w
)
SELECT l_returnflag,
       CAST(min(tw) AS BIGINT) AS total_weight,
       ROUND(min(CASE WHEN 2 * cw >= tw     THEN price_c END) / 100.0, 4)
         AS w_median,
       ROUND(min(CASE WHEN 4 * cw >= tw     THEN price_c END) / 100.0, 4)
         AS w_p25,
       ROUND(min(CASE WHEN 4 * cw >= 3 * tw THEN price_c END) / 100.0, 4)
         AS w_p75
FROM cum GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE, tier="T2")
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median and weighted quartiles — percentile where each
    row counts `weight` times (price weighted by quantity here; at 100 TB
    think latency weighted by request count): sort by value, accumulate
    the running weight, and the p-quantile is the FIRST value whose
    cumulative weight reaches p of the total.

    Determinism lane: prices are integer cents, weights integer
    quantities, and the threshold tests are cross-multiplied
    (2·cw ≥ tw, never cw ≥ tw·0.5) so every comparison is exact BIGINT
    arithmetic — no float boundary can flip the selected row; the
    secondary sort key wt makes the running order total.

    Scale shape: one window (partitioned by group, ordered by value) +
    one hash agg — the same cost envelope as win_running_sum.  No
    engine-native weighted percentile exists in either engine, so both
    sides derive it from first principles; the conditional-min trick
    extracts all three quantiles in ONE pass instead of three self
    joins."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        cents_col("l_extendedprice").alias("price_c"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag",
        "price_c",
        F.sum("wt").over(win).alias("cw"),
        F.sum("wt").over(tot).alias("tw"),
    )
    pick = lambda cond: F.min(F.when(cond, F.col("price_c")))  # noqa: E731
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.min("tw").cast("long").alias("total_weight"),
            F.round(pick(2 * F.col("cw") >= F.col("tw")) / 100.0, 4).alias(
                "w_median"
            ),
            F.round(pick(4 * F.col("cw") >= F.col("tw")) / 100.0, 4).alias("w_p25"),
            F.round(pick(4 * F.col("cw") >= 3 * F.col("tw")) / 100.0, 4).alias(
                "w_p75"
            ),
        )
        .orderBy("l_returnflag")
    )

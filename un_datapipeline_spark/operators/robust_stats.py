"""Robust / diagnostic statistics: MAD outlier detection, Theil–Sen
trend, autocorrelation, Benford first-digit audit, and Pareto ABC
classification.

Scale posture: every operator reduces to a bounded grain before the
statistical step — daily series (days × types), digit tables (9 ×
groups), part-level revenue (dimension-bounded) — and keeps the float
discipline of ROUND_NOTES.md: exact integer sums, ONE division, round
both engines.  Median-based statistics use Spark ``percentile`` ≡
DuckDB ``quantile_cont`` (both exact linear interpolation, the
agg_percentile_exact precedent)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import cents_col, cents_sql, load_table


_MAD_ORACLE = f"""
WITH base AS (
  SELECT event_type, {cents_sql("value")} AS cents FROM events
), med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med FROM base GROUP BY event_type
), dev AS (
  SELECT b.event_type, b.cents, m.med, abs(b.cents - m.med) AS adev
  FROM base b JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad_raw
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(any_value(d.med) / 100.0, 6) AS median_val,
       ROUND(any_value(m.mad_raw) / 100.0, 6) AS mad_val,
       CAST(count(*) FILTER (d.adev > 3 * 1.4826 * m.mad_raw) AS BIGINT)
         AS n_outliers,
       CAST(count(*) AS BIGINT) AS n
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@register("agg_mad_outliers", oracle=_MAD_ORACLE, tier="T2")
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median and MAD (median
    absolute deviation) of the value series, and the count of points
    beyond the modified z-score fence |x−med| > 3·1.4826·MAD — the
    estimator that, unlike mean/stddev fences (agg_iqr_outliers' cousin),
    has a 50% breakdown point and so survives the very outliers it
    hunts.  Two grouped exact-percentile passes over integer cents; the
    per-type medians are a types-cardinality intermediate joined back
    broadcast-style, so the plan is two shuffles by event_type at any
    scale."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", cents_col("value").alias("cents"))
    med = base.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = base.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.any_value("med") / 100.0, 6).alias("median_val"),
        F.percentile("adev", F.lit(0.5)).alias("mad_raw"),
        F.count(F.lit(1)).alias("n"),
    )
    fenced = dev.join(mad.select("event_type", "mad_raw"), "event_type")
    outl = fenced.groupBy("event_type").agg(
        F.sum(
            (F.col("adev") > 3 * 1.4826 * F.col("mad_raw")).cast("long")
        ).alias("n_outliers")
    )
    return mad.join(outl, "event_type").select(
        "event_type",
        "median_val",
        F.round(F.col("mad_raw") / 100.0, 6).alias("mad_val"),
        "n_outliers",
        "n",
    )


_THEILSEN_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
  FROM daily
), pairs AS (
  SELECT a.event_type, (b.c - a.c) * 1.0 / (b.i - a.i) AS slope
  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i < b.i
), days AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM idx GROUP BY event_type
)
SELECT p.event_type, d.n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(slope, 0.5) / 100.0, 6) AS sen_slope
FROM pairs p JOIN days d USING (event_type)
GROUP BY p.event_type, d.n_days
"""


@register("ts_theil_sen_slope", oracle=_THEILSEN_ORACLE, tier="T2")
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend estimate per event_type: the median of all
    pairwise slopes of the DAILY total series — robust to 29% arbitrary
    corruption where least-squares breaks on one bad day.  The pairwise
    self-join is quadratic ONLY in days-per-type (the aggregated grain:
    365 days → 66k pairs), never in events, which is what makes the
    estimator feasible at 100 TB — aggregate first, then go quadratic
    on the bounded intermediate.  Each slope is one division of exact
    integers, so both engines median identical doubles."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.c") - F.col("a.c")) * 1.0 / (F.col("b.i") - F.col("a.i"))
        ).alias("slope"),
    )
    days = idx.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    sen = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)) / 100.0, 6).alias("sen_slope"),
    )
    return days.join(sen, "event_type").select(
        "event_type", "n_days", "n_pairs", "sen_slope"
    )


_ACF_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
  FROM daily GROUP BY event_type
), d AS (
  SELECT daily.event_type, daily.day, daily.c - t.m AS d
  FROM daily JOIN tot t USING (event_type)
), led AS (
  SELECT event_type, d,
         lead(d, 1) OVER (PARTITION BY event_type ORDER BY day) AS d1,
         lead(d, 2) OVER (PARTITION BY event_type ORDER BY day) AS d2,
         lead(d, 3) OVER (PARTITION BY event_type ORDER BY day) AS d3
  FROM d
), agg AS (
  SELECT event_type,
         sum(CAST(d AS HUGEINT) * d) AS den,
         sum(CASE WHEN d1 IS NOT NULL THEN CAST(d AS HUGEINT) * d1 END) AS n1,
         sum(CASE WHEN d2 IS NOT NULL THEN CAST(d AS HUGEINT) * d2 END) AS n2,
         sum(CASE WHEN d3 IS NOT NULL THEN CAST(d AS HUGEINT) * d3 END) AS n3
  FROM led GROUP BY event_type
)
SELECT event_type, lag, ROUND(num * 1.0 / nullif(den, 0), 6) AS acf
FROM (
  SELECT event_type, 1 AS lag, n1 AS num, den FROM agg
  UNION ALL SELECT event_type, 2, n2, den FROM agg
  UNION ALL SELECT event_type, 3, n3, den FROM agg
)
"""


@register("ts_autocorrelation", oracle=_ACF_ORACLE, tier="T2")
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily total series at lags 1-3 per
    event_type — the seasonality/memory diagnostic that decides window
    sizes for the forecasting ops (ts_ewma_smooth, ts_seasonal_decompose).
    Deviations are taken from the FLOORED integer mean (total DIV n) so
    numerator and denominator are exact BIGINT sums of integer products
    — one final division per lag, no float accumulation anywhere.  The
    lag shift is a window ``lead`` over the daily grain, not a
    self-join."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("c")
    )
    tot = daily.groupBy("event_type").agg(
        F.expr("sum(c) DIV count(*)").alias("m")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.join(tot, "event_type").select(
        "event_type", "day", (F.col("c") - F.col("m")).alias("d")
    )
    led = d.select(
        "event_type",
        "d",
        F.lead("d", 1).over(w.orderBy("day")).alias("d1"),
        F.lead("d", 2).over(w.orderBy("day")).alias("d2"),
        F.lead("d", 3).over(w.orderBy("day")).alias("d3"),
    )
    # deviation products ride DECIMAL(38,0) (oracle: HUGEINT) — one
    # surviving near-bound day overflows int64 per-element
    # (magnitude-v2 contract)
    d_dec = F.col("d").cast("decimal(38,0)")
    agg = led.groupBy("event_type").agg(
        F.sum(d_dec * F.col("d")).alias("den"),
        F.sum(F.when(F.col("d1").isNotNull(), d_dec * F.col("d1"))).alias("n1"),
        F.sum(F.when(F.col("d2").isNotNull(), d_dec * F.col("d2"))).alias("n2"),
        F.sum(F.when(F.col("d3").isNotNull(), d_dec * F.col("d3"))).alias("n3"),
    )
    out = None
    for k in (1, 2, 3):
        part = agg.select(
            "event_type",
            F.lit(k).alias("lag"),
            # nullif: a constant daily series has zero denominator —
            # ACF undefined, NULL on both engines (same class as the
            # round-6 tiny-tables fixes)
            F.round(
                F.col(f"n{k}") * 1.0 / F.nullif(F.col("den"), F.lit(0)), 6
            ).alias("acf"),
        )
        out = part if out is None else out.unionAll(part)
    return out


_BENFORD_ORACLE = """
WITH digits AS (
  SELECT o_orderpriority,
         CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders
), obs AS (
  SELECT o_orderpriority, digit, CAST(count(*) AS BIGINT) AS observed
  FROM digits GROUP BY 1, 2
), tot AS (
  SELECT o_orderpriority, CAST(sum(observed) AS BIGINT) AS n FROM obs GROUP BY 1
)
SELECT o.o_orderpriority, o.digit, o.observed,
       ROUND(t.n * ln(1.0 + 1.0 / o.digit) / ln(10.0), 6) AS expected,
       ROUND(o.observed / (t.n * ln(1.0 + 1.0 / o.digit) / ln(10.0)), 6)
         AS obs_over_exp
FROM obs o JOIN tot t USING (o_orderpriority)
"""


@register("agg_benford_digits", oracle=_BENFORD_ORACLE, tier="T2")
def agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals per priority class:
    observed leading-digit counts against the log₁₀(1+1/d) expectation —
    the standard fraud/synthetic-data screen for financial columns (a
    generator that draws totals uniformly fails it loudly, which is
    itself informative on synthetic benchmarks).  The digit table is 9
    rows per group; expected counts use the same literal float formula
    on both engines so the doubles agree bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        "o_orderpriority",
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit"),
    )
    obs = digits.groupBy("o_orderpriority", "digit").agg(
        F.count(F.lit(1)).alias("observed")
    )
    tot = obs.groupBy("o_orderpriority").agg(F.sum("observed").alias("n"))
    exp = F.col("n") * F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return obs.join(tot, "o_orderpriority").select(
        "o_orderpriority",
        "digit",
        "observed",
        F.round(exp, 6).alias("expected"),
        F.round(F.col("observed") / exp, 6).alias("obs_over_exp"),
    )


_PARETO_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(cents) OVER () AS BIGINT) AS total
  FROM rev
)
SELECT l_partkey, cents / 100.0 AS revenue,
       ROUND(cum * 1.0 / total, 6) AS cum_share,
       CASE WHEN cum * 1.0 / total <= 0.80 THEN 'A'
            WHEN cum * 1.0 / total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register("win_pareto_abc", oracle=_PARETO_ORACLE, tier="T2")
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    cumulative revenue share, and the classic A (top 80% of revenue) /
    B (next 15%) / C (tail) bands — the rollup behind every "20% of
    SKUs drive 80% of revenue" decision.  Revenue aggregates lineitem
    to the part grain first (dimension-bounded, the only fact-table
    scan), so the global cumulative window runs over parts, not line
    items; at extreme part cardinality the same result falls out of a
    two-pass prefix sum (range-partition by revenue, broadcast per-
    partition totals) — the grain, not the window, is the scale story.
    cum_share is a per-row division of two exact BIGINTs; the unique
    (cents DESC, partkey) order makes every prefix deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(cents_col("l_extendedprice")).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    ranked = rev.select(
        "l_partkey",
        (F.col("cents") / 100.0).alias("revenue"),
        (F.sum("cents").over(w) * 1.0 / F.sum("cents").over(wt)).alias("share"),
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        F.round("share", 6).alias("cum_share"),
        F.when(F.col("share") <= 0.80, "A")
        .when(F.col("share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_MWU_ORACLE = f"""
WITH base AS (
  SELECT event_type, {cents_sql("value")} AS v,
         CAST(user_id % 2 = 0 AS INT) AS is_a
  FROM events
  WHERE value IS NOT NULL
), vals AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(is_a) AS BIGINT) AS cnt_a
  FROM base GROUP BY 1, 2
), ranked AS (
  SELECT event_type, v, cnt, cnt_a,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cnt_less
  FROM vals
), agg AS (
  SELECT event_type,
         CAST(sum(cnt_a) AS BIGINT) AS n1,
         CAST(sum(cnt - cnt_a) AS BIGINT) AS n2,
         CAST(sum(cnt_a * (2 * cnt_less + cnt + 1)) AS BIGINT) AS r1_2,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
  FROM ranked GROUP BY event_type
)
SELECT event_type, n1, n2,
       ROUND((r1_2 - n1 * (n1 + 1)) / 2.0, 1) AS u_a,
       ROUND(((r1_2 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
             / nullif(sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
                    - tie_sum * 1.0
                      / nullif((n1 + n2) * (n1 + n2 - 1.0), 0))), 0), 6) AS z,
       ROUND(1.0 - 2.0 * ((r1_2 - n1 * (n1 + 1)) / 2.0) / nullif(n1 * n2, 0), 6)
         AS rank_biserial
FROM agg
"""


@register("agg_mann_whitney", oracle=_MWU_ORACLE, tier="T2")
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test per event_type (A/B = user_id parity, the
    agg_ab_ttest split): the nonparametric alternative for value
    distributions too skewed for the t-test.  The rank machinery never
    materializes per-row ranks — values collapse to a (type, value)
    frequency table, average ranks come from a running count over that
    table, and DOUBLED rank sums (2·cnt_less + cnt + 1) keep everything
    in exact BIGINTs: U, the tie-correction Σ(t³−t), and the
    rank-biserial effect size all derive from integer sums with a
    handful of final literal-formula float ops, identical on both
    engines.  Shuffle grain is distinct values per type, not rows.

    Missing measurements are DROPPED before ranking (both texts): a
    rank statistic over unobserved values is undefined, and a NULL v
    group would otherwise rank NULLS FIRST on Spark but NULLS LAST on
    DuckDB — the r08 --nonfinite sweep caught exactly that."""
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        cents_col("value").alias("v"),
        (F.col("user_id") % 2 == 0).cast("int").alias("is_a"),
    )
    vals = base.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_a").alias("cnt_a")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.withColumn(
        "cnt_less", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n2"),
        F.sum(
            F.col("cnt_a") * (2 * F.col("cnt_less") + F.col("cnt") + 1)
        ).alias("r1_2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_sum"),
    )
    u_a = (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)) / 2.0
    n = F.col("n1") + F.col("n2")
    # nullif guards: an empty A or B arm (n1·n2 = 0) or a single
    # observation (n = 1) makes U's σ / the effect size undefined —
    # NULL on both engines (round-6 tiny-tables sweep)
    sigma = F.nullif(
        F.sqrt(
            F.col("n1") * F.col("n2") / 12.0
            * (
                (n + 1)
                - F.col("tie_sum") * 1.0
                / F.nullif(n * (n - 1.0), F.lit(0.0))
            )
        ),
        F.lit(0.0),
    )
    return agg.select(
        "event_type",
        "n1",
        "n2",
        F.round(u_a, 1).alias("u_a"),
        F.round((u_a - F.col("n1") * F.col("n2") / 2.0) / sigma, 6).alias("z"),
        F.round(
            1.0 - 2.0 * u_a / F.nullif(F.col("n1") * F.col("n2"), F.lit(0)), 6
        ).alias("rank_biserial"),
    )


_KS_ORACLE = f"""
WITH base AS (
  SELECT event_type, {cents_sql("value")} AS v,
         CAST(user_id % 2 = 0 AS INT) AS is_a
  FROM events
  WHERE value IS NOT NULL
), vals AS (
  SELECT event_type, v, CAST(sum(is_a) AS BIGINT) AS cnt_a,
         CAST(count(*) - sum(is_a) AS BIGINT) AS cnt_b
  FROM base GROUP BY 1, 2
), cums AS (
  SELECT event_type,
         CAST(sum(cnt_a) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         CAST(sum(cnt_b) OVER (PARTITION BY event_type ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
  FROM vals
), tot AS (
  SELECT event_type, CAST(sum(cnt_a) AS BIGINT) AS n1,
         CAST(sum(cnt_b) AS BIGINT) AS n2
  FROM vals GROUP BY event_type
)
SELECT c.event_type, t.n1, t.n2,
       ROUND(max(abs(c.ca * t.n2 - c.cb * t.n1)) * 1.0
             / nullif(t.n1 * t.n2, 0), 6) AS d,
       ROUND(max(abs(c.ca * t.n2 - c.cb * t.n1)) * 1.0
             / nullif(t.n1 * t.n2, 0)
             * sqrt(t.n1 * 1.0 * t.n2 / (t.n1 + t.n2)), 6) AS ks_stat
FROM cums c JOIN tot t USING (event_type)
GROUP BY c.event_type, t.n1, t.n2
"""


@register("agg_ks_test", oracle=_KS_ORACLE, tier="T2")
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test per event_type (A/B =
    user_id parity): the supremum gap between the two empirical CDFs,
    the distribution-shape complement to agg_mann_whitney's location
    shift.  The sup runs over the (type, value) frequency table with
    running counts, and the gap is maximized in SCALED integers
    |ca·n2 − cb·n1| — exact BIGINT throughout, one division for D and
    one literal-formula normalization for the KS statistic.  Same
    value-collapsed grain as the U test: distinct cents per type, not
    rows.

    Missing measurements are DROPPED before the CDFs (both texts): an
    empirical CDF has no position for an unobserved value, and a NULL
    v group ranks NULLS FIRST on Spark / NULLS LAST on DuckDB (r08
    --nonfinite sweep)."""
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        cents_col("value").alias("v"),
        (F.col("user_id") % 2 == 0).cast("int").alias("is_a"),
    )
    vals = base.groupBy("event_type", "v").agg(
        F.sum("is_a").alias("cnt_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).alias("cnt_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = vals.select(
        "event_type",
        F.sum("cnt_a").over(w).alias("ca"),
        F.sum("cnt_b").over(w).alias("cb"),
    )
    tot = vals.groupBy("event_type").agg(
        F.sum("cnt_a").alias("n1"), F.sum("cnt_b").alias("n2")
    )
    gap = F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
    return (
        cums.join(tot, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(F.max(gap).alias("max_gap"))
        .select(
            "event_type",
            "n1",
            "n2",
            # nullif: an empty A or B arm makes D undefined — NULL on
            # both engines (round-6 tiny-tables sweep)
            F.round(
                F.col("max_gap") * 1.0
                / F.nullif(F.col("n1") * F.col("n2"), F.lit(0)),
                6,
            ).alias("d"),
            F.round(
                F.col("max_gap") * 1.0
                / F.nullif(F.col("n1") * F.col("n2"), F.lit(0))
                * F.sqrt(
                    F.col("n1") * 1.0 * F.col("n2") / (F.col("n1") + F.col("n2"))
                ),
                6,
            ).alias("ks_stat"),
        )
    )


_CHISQ_ORACLE = """
WITH obs AS (
  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2
), tots AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT pri) AS BIGINT) AS n_r,
         CAST(count(DISTINCT st) AS BIGINT) AS n_c
  FROM obs
), rt AS (SELECT pri, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY pri),
ct AS (SELECT st, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY st),
cells AS (
  SELECT obs.pri, obs.st,
         pow(obs.o - rt.r * ct.c * 1.0 / t.n, 2) / (rt.r * ct.c * 1.0 / t.n)
           AS contrib
  FROM obs JOIN rt USING (pri) JOIN ct USING (st) CROSS JOIN tots t
)
SELECT t.n, t.n_r, t.n_c, (t.n_r - 1) * (t.n_c - 1) AS dof,
       ROUND(list_reduce(list_transform(
               list_sort(list(struct_pack(pri := cells.pri, st := cells.st,
                                          contrib := cells.contrib))),
               x -> x.contrib), (a, x) -> a + x), 6) AS chi2
FROM cells CROSS JOIN tots t
GROUP BY t.n, t.n_r, t.n_c
"""


@register("agg_chisq_independence", oracle=_CHISQ_ORACLE, tier="T2")
def agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for order priority × status: the
    contingency-table screen for "does this categorical depend on that
    one".  Observed and marginal totals are exact BIGINTs; each cell's
    expected count and contribution is a literal float formula; and the
    χ² sum — the one float accumulation — folds LEFT-TO-RIGHT over
    cells sorted by their (priority, status) key on both engines (the
    agg_entropy_gini discipline), so the total is bit-identical.  The
    cell table is categorical-cardinality-bounded; all shuffles are on
    the tiny marginals."""
    o = load_table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("o"))
    tots = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("pri").alias("n_r"),
        F.countDistinct("st").alias("n_c"),
    )
    rt = obs.groupBy("pri").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("st").agg(F.sum("o").alias("c"))
    exp = F.col("r") * F.col("c") * 1.0 / F.col("n")
    cells = (
        obs.join(rt, "pri")
        .join(ct, "st")
        .crossJoin(F.broadcast(tots))
        .select(
            "pri",
            "st",
            "n",
            "n_r",
            "n_c",
            (F.pow(F.col("o") - exp, 2) / exp).alias("contrib"),
        )
    )
    return (
        cells.groupBy("n", "n_r", "n_c")
        .agg(
            F.round(
                F.expr(
                    "aggregate(transform(sort_array(collect_list("
                    "struct(pri, st, contrib))), x -> x.contrib),"
                    " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
                ),
                6,
            ).alias("chi2")
        )
        .select(
            "n",
            "n_r",
            "n_c",
            ((F.col("n_r") - 1) * (F.col("n_c") - 1)).alias("dof"),
            "chi2",
        )
    )


_LORENZ_ORACLE = f"""
WITH rev AS (
  SELECT c.c_custkey, n.n_name,
         CAST(coalesce(sum({cents_sql("o.o_totalprice")}), 0)
              AS BIGINT) AS cents
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, n.n_name
), ranked AS (
  SELECT n_name, cents,
         CAST(row_number() OVER (PARTITION BY n_name
                                 ORDER BY cents, c_custkey) AS BIGINT) AS i
  FROM rev
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) / 100.0 AS total_rev,
       ROUND((2 * sum(i * cents) - (count(*) + 1) * sum(cents)) * 1.0
             / (count(*) * sum(cents)), 6) AS gini
FROM ranked GROUP BY n_name
"""


@register("agg_lorenz_gini", oracle=_LORENZ_ORACLE, tier="T2")
def agg_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration per nation —
    the Lorenz-curve inequality measure behind "how concentrated is our
    revenue" (agg_entropy_gini's Gini is impurity over categories; this
    is the economics one over a continuous distribution).  Zero-order
    customers are kept via the left join so the curve starts at the
    true origin.  The G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) identity needs
    only the rank-weighted integer-cents sum, so everything is exact
    BIGINT with ONE final division; ranking is per-nation (windows
    partition by the 25 nations, never a global sort)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "n_name")
        .agg(
            F.coalesce(
                F.sum(cents_col("o_totalprice")),
                F.lit(0),
            ).alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("cents", "c_custkey")
    ranked = rev.select(
        "n_name", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    cnt = F.count(F.lit(1))
    return ranked.groupBy("n_name").agg(
        cnt.alias("n_customers"),
        (F.sum("cents") / 100.0).alias("total_rev"),
        F.round(
            (2 * F.sum(F.col("i") * F.col("cents")) - (cnt + 1) * F.sum("cents"))
            * 1.0
            / (cnt * F.sum("cents")),
            6,
        ).alias("gini"),
    )


_HHI_ORACLE = f"""
WITH rev AS (
  SELECT n.n_name, c.c_custkey,
         CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_custkey
), per AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS t,
         list_sort(list(cents)) AS xs
  FROM rev GROUP BY n_name
)
SELECT n_name, n_customers,
       ROUND(list_reduce(list_transform(xs, x -> pow(x * 1.0 / t, 2)),
                         (a, x) -> a + x), 6) AS hhi,
       ROUND(1.0 / n_customers, 6) AS hhi_floor
FROM per
"""


@register("agg_hhi_concentration", oracle=_HHI_ORACLE, tier="T2")
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of customer revenue per
    nation: Σ shareᵢ² = Σxᵢ² / (Σx)², agg_lorenz_gini's antitrust-world
    sibling and the cheaper one — no ranking window at all, just two
    exact integer sums per group and ONE division (the identity avoids
    materializing shares).  hhi_floor = 1/n is the perfectly-equal
    baseline the index is read against."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(cents_col("o_totalprice")).alias("cents")
        )
    )
    # Σcents² overflows BIGINT at scale (probed: ANSI long-overflow at
    # sf0.01), so squared SHARES are folded left-to-right over the
    # count-sorted list instead — the agg_entropy_gini discipline: both
    # engines sum identical doubles in identical order.
    per = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("t"),
        F.expr("sort_array(collect_list(cents))").alias("xs"),
    )
    return per.select(
        "n_name",
        "n_customers",
        F.round(
            F.expr(
                "aggregate(transform(xs, x -> pow(x * 1.0 / t, 2)),"
                " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            ),
            6,
        ).alias("hhi"),
        F.round(1.0 / F.col("n_customers"), 6).alias("hhi_floor"),
    )


_KM_ORACLE = """
WITH per_user AS (
  SELECT user_id, date_trunc('day', min(ts)) AS first_day,
         date_trunc('day', max(ts)) AS last_day
  FROM events GROUP BY user_id
), lab AS (
  SELECT user_id,
         CAST(date_diff('day', first_day, last_day) AS BIGINT) AS dur,
         CAST(user_id % 4 = 0 AS INT) AS censored
  FROM per_user
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM lab),
durs AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(1 - censored) AS BIGINT) AS d
  FROM lab GROUP BY dur
), risk AS (
  SELECT durs.dur, durs.d,
         t.n_users - CAST(coalesce(sum(durs.n_at) OVER (ORDER BY durs.dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n_risk
  FROM durs CROSS JOIN tot t
), deaths AS (
  SELECT dur, d, n_risk, (n_risk - d) * 1.0 / n_risk AS f,
         CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS i
  FROM risk WHERE d > 0
), arr AS (
  SELECT list_transform(list_sort(list(struct_pack(t := dur, f := f))),
                        x -> x.f) AS fs
  FROM deaths
)
SELECT d.dur AS duration_days, d.n_risk, d.d AS d_events,
       ROUND(list_reduce(list_slice(a.fs, 1, d.i), (acc, x) -> acc * x), 6)
         AS survival
FROM deaths d CROSS JOIN arr a
"""


@register("agg_survival_km", oracle=_KM_ORACLE, tier="T2")
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user tenure (days between first
    and last event), with right-censoring for users still active in
    the dataset's final 3 days — churn analysis done properly: dropping
    censored users (the naive average-tenure query) biases tenure LOW
    because the longest-lived users are exactly the unresolved ones.
    At-risk counts come from an exclusive running sum over the
    per-duration table; each hazard factor (n−d)/n is one exact-integer
    division; and the survival prefix-product folds LEFT-TO-RIGHT over
    the t-sorted factor array on both engines (the agg_entropy_gini
    fold discipline — a running product via exp/sum/ln would reopen
    the float-order hole).  Everything past the first groupBy runs on
    the duration grain, bounded by the observation window in days."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day"),
        F.date_trunc("day", F.max("ts")).alias("last_day"),
    )
    lab = per_user.select(
        F.datediff("last_day", "first_day").cast("long").alias("dur"),
        (F.col("user_id") % 4 == 0).cast("int").alias("censored"),
    )
    tot = lab.agg(F.count(F.lit(1)).alias("n_users"))
    durs = lab.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum(1 - F.col("censored")).alias("d"),
    )
    w_excl = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = durs.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum("n_at").over(w_excl), F.lit(0))
        ).alias("n_risk"),
    )
    deaths = risk.filter(F.col("d") > 0).select(
        "dur",
        "d",
        "n_risk",
        ((F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")).alias("f"),
        F.row_number().over(Window.orderBy("dur")).cast("long").alias("i"),
    )
    arr = deaths.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dur AS t, f AS f))),"
            " x -> x.f)"
        ).alias("fs")
    )
    return deaths.crossJoin(F.broadcast(arr)).select(
        F.col("dur").alias("duration_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.round(
            F.expr(
                "aggregate(slice(fs, 1, CAST(i AS INT)),"
                " CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"
            ),
            6,
        ).alias("survival"),
    )


_OLS_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS x
  FROM daily
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM idx GROUP BY event_type
)
SELECT event_type, n,
       CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
             / nullif((n * sxx - sx * sx) * 100.0, 0)
         AS slope,
       CAST(CAST(CAST(sy AS HUGEINT) * sxx - sx * sxy AS VARCHAR) AS DOUBLE)
             / nullif((n * sxx - sx * sx) * 100.0, 0)
         AS intercept,
       ROUND(CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
               * CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE)
               * (n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(sy AS DOUBLE) * sy), 0), 6)
         AS r2
FROM m
"""


@register("agg_linear_regression", oracle=_OLS_ORACLE, tier="T2")
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-series OLS fit of the daily total per event_type: slope,
    intercept, and r² from the five closed-form moment sums —
    win_rolling_regression's global sibling and the least-squares
    counterpart the robust Theil–Sen estimator is judged against.  All
    moments are exact BIGINTs over the daily grain (y² ≈ 10¹³·days,
    comfortably inside int64 where per-event sums would not be); each
    reported statistic is a literal-formula division of those integers,
    so both engines emit bit-identical doubles.  One aggregation after
    the daily rollup — no window over the fact table, partial-
    aggregable everywhere."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "y", F.row_number().over(w).cast("long").alias("x")
    )
    # y-bearing products ride DECIMAL(38,0) (oracle: HUGEINT) — one
    # surviving near-bound day overflows int64 in x·y, y², sx·sy and the
    # intercept cross-terms; the r2 denominator's n·Σy² − (Σy)² exceeds
    # even 128-bit range, so that one factor is evaluated in DOUBLE on
    # both sides (exact integer operands, same op tree, same double).
    y_dec = F.col("y").cast("decimal(38,0)")
    m = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * y_dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(y_dec * y_dec).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    sx_dec = sx.cast("decimal(38,0)")
    sy_d = sy.cast("double")
    den = n * sxx - sx * sx
    num = n * sxy - sx_dec * sy
    # nullif: a 1-day series (or constant y) makes the fit undefined —
    # NULL on both engines (round-6 tiny-tables sweep)
    return m.select(
        "event_type",
        "n",
        # slope/intercept are unrounded: every operand is an exact
        # integer converted once, so both engines emit the same double —
        # and at corrupt-magnitude slopes ROUND(x,6) itself is
        # ill-defined (ulp > 1e-6; the engines pick different nearest
        # doubles).  r2 is O(1), where 6dp rounding is well-defined.
        (num.cast("double") / F.nullif(den * 100.0, F.lit(0.0))).alias(
            "slope"
        ),
        (
            (sy.cast("decimal(38,0)") * sxx - sx_dec * sxy).cast("double")
            / F.nullif(den * 100.0, F.lit(0.0))
        ).alias("intercept"),
        F.round(
            num.cast("double") * num.cast("double")
            / F.nullif(
                den * 1.0 * (n * syy.cast("double") - sy_d * sy),
                F.lit(0.0),
            ),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Hampel filter (rolling median ± k·MAD outlier detection)
# ---------------------------------------------------------------------------

_HAMPEL_ORACLE = f"""
WITH c AS (
  SELECT event_type, ts, event_id,
         {cents_sql("value")} AS cents
  FROM events
  WHERE value IS NOT NULL
), fr1 AS (
  SELECT *, list_sort(list(cents) OVER w) AS fr
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), med AS (
  SELECT event_type, ts, event_id, cents,
         fr[CAST(floor((len(fr) + 1) / 2) AS INT)]
           + fr[CAST(ceil((len(fr) + 1) / 2) AS INT)] AS m2
  FROM fr1
), dev AS (
  SELECT *, abs(2 * cents - m2) AS dev2 FROM med
), fr2 AS (
  SELECT *, list_sort(list(dev2) OVER w) AS dr
  FROM dev
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), flagged AS (
  SELECT event_type, dev2,
         dr[CAST(floor((len(dr) + 1) / 2) AS INT)]
           + dr[CAST(ceil((len(dr) + 1) / 2) AS INT)] AS mad4,
         CAST(2 * CAST(dev2 AS HUGEINT)
           > 3 * CAST(dr[CAST(floor((len(dr) + 1) / 2) AS INT)]
           + dr[CAST(ceil((len(dr) + 1) / 2) AS INT)] AS HUGEINT) AS INT)
           AS is_out
  FROM fr2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(is_out) AS BIGINT) AS n_outliers,
       CAST((sum(is_out) * 1000000) // count(*) AS BIGINT) AS outlier_ppm,
       CAST(max(dev2) AS BIGINT) AS max_dev_halfcents
FROM flagged GROUP BY event_type
"""


@register("ts_hampel_outliers", oracle=_HAMPEL_ORACLE, tier="T3")
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter (Hampel 1974, the standard robust time-series
    despiker): a point is an outlier when its deviation from the
    CENTERED 7-point rolling median exceeds 3× the rolling MAD —
    median/MAD instead of mean/σ so a burst of spikes cannot mask
    itself by inflating its own threshold (which is exactly how z-score
    despiking fails; contrast ts_anomaly_zscore).

    Determinism lane (exact integer): values snap to cents; the rolling
    median is kept as m2 = the SUM of the two middle frame elements
    (median = m2/2 on the half-cent grid, never divided), deviations as
    dev2 = |2·cents − m2| half-cent integers, the MAD likewise as the
    mad4 middle-pair sum — so the Hampel test |x−med| > 3·MAD becomes
    the cross-multiplied BIGINT comparison 2·dev2 > 3·mad4, and the
    outlier SET is bit-identical across engines.  (Spark disallows
    median over a bounded frame — INVALID_WINDOW_SPEC, same probe as
    win_moving_median — hence the sorted collect_list frame; O(7) per
    row at any scale.)

    Scale shape: both windows share one (event_type) partitioning → one
    shuffle + one sort feed the whole operator, then a bounded per-type
    rollup.  At 100 TB a single event_type is a skew unit; the
    production form sub-partitions by (event_type, day) with a 3-row
    halo per boundary — noted in SCALING.md §windows.

    Missing samples are DROPPED from the series before windowing (both
    texts): the rolling neighborhood is over OBSERVED samples.  With
    NULLs kept, Spark's collect_list silently skips them (shrinking
    frames asymmetrically) while DuckDB's list() keeps them — divergent
    medians (r08 --nonfinite sweep)."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        cents_col("value").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )

    def middle_sum(arr: F.Column) -> F.Column:
        n = F.size(arr)
        return F.element_at(arr, F.floor((n + 1) / 2).cast("int")) + F.element_at(
            arr, F.ceil((n + 1) / 2).cast("int")
        )

    med = c.withColumn("m2", middle_sum(F.sort_array(F.collect_list("cents").over(w))))
    dev = med.withColumn("dev2", F.abs(F.lit(2) * F.col("cents") - F.col("m2")))
    mad = dev.withColumn(
        "mad4", middle_sum(F.sort_array(F.collect_list("dev2").over(w)))
    )
    # the cross-multiplied Hampel test rides DECIMAL(38,0) (oracle:
    # HUGEINT): 3·mad4 overflows int64 once a surviving near-bound
    # measurement enters the frame (magnitude-v2 contract)
    flagged = mad.withColumn(
        "is_out",
        (
            F.lit(2) * F.col("dev2").cast("decimal(38,0)")
            > F.lit(3) * F.col("mad4").cast("decimal(38,0)")
        ).cast("int"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_out").cast("long").alias("n_outliers"),
        F.expr("(sum(is_out) * 1000000) DIV count(*)").cast("long").alias(
            "outlier_ppm"
        ),
        F.max("dev2").cast("long").alias("max_dev_halfcents"),
    )


# ---------------------------------------------------------------------------
# Trimmed / winsorized means
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = f"""
WITH c AS (
  SELECT event_type, event_id,
         {cents_sql("value")} AS cents
  FROM events
  WHERE value IS NOT NULL
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM c
), kd AS (
  SELECT *, CAST(n // 10 AS BIGINT) AS k FROM ranked
), cuts AS (
  SELECT event_type,
         max(CASE WHEN rn = k + 1 THEN cents END) AS lo,
         max(CASE WHEN rn = n - k THEN cents END) AS hi
  FROM kd GROUP BY event_type
)
SELECT kd.event_type,
       CAST(max(kd.n) AS BIGINT) AS n,
       CAST(max(kd.k) AS BIGINT) AS k,
       CAST(sum(kd.cents) AS BIGINT)
             / (max(kd.n) * 100.0) AS mean_raw,
       CAST(sum(CASE WHEN kd.rn > kd.k AND kd.rn <= kd.n - kd.k
                     THEN kd.cents ELSE 0 END) AS BIGINT)
             / ((max(kd.n) - 2 * max(kd.k)) * 100.0) AS mean_trimmed,
       CAST(sum(least(greatest(kd.cents, cuts.lo), cuts.hi)) AS BIGINT)
             / (max(kd.n) * 100.0) AS mean_winsorized
FROM kd JOIN cuts USING (event_type)
GROUP BY kd.event_type
"""


@register("agg_trimmed_winsorized", oracle=_TRIMMED_ORACLE, tier="T2")
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized means per event type, next to the raw
    mean — the robust-location estimators (drop each tail / clamp each
    tail to the cut values) that survive the fat-tailed `value` column
    where the plain mean chases spikes.

    Determinism lane (exact integer): tail membership comes from
    row_number over the unique (cents, event_id) total order, k = n DIV
    10, and all three numerators are exact BIGINT cent sums — the
    winsorized sum clamps each value to the lo/hi cut cents with
    least/greatest before summing — so each mean is ONE division.

    Scale shape: one shuffle on event_type; the rank window, the cut
    extraction, and the conditional sums all reuse that partitioning;
    output grain = #event types.

    Missing measurements are DROPPED before ranking (both texts): a
    trimmed mean is over observed values, and a NULL cents group ranks
    NULLS FIRST on Spark / NULLS LAST on DuckDB, shifting every tail
    cut (r08 --nonfinite sweep)."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        cents_col("value").alias("cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    kd = c.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("k", F.expr("n DIV 10").cast("long"))
    cuts = kd.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents"))).alias("hi"),
    )
    mid = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        kd.join(cuts, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("k").cast("long").alias("k"),
            # unrounded: each mean is ONE division of exact integers —
            # identical doubles on both engines — while ROUND(x,6) at a
            # corrupt-magnitude mean (ulp > 1e-6) is itself ill-defined
            # and the engines pick different nearest doubles
            # (magnitude-v2 contract)
            (F.sum("cents") / (F.max("n") * 100.0)).alias("mean_raw"),
            (
                F.sum(F.when(mid, F.col("cents")).otherwise(F.lit(0)))
                / ((F.max("n") - 2 * F.max("k")) * 100.0)
            ).alias("mean_trimmed"),
            (F.sum(clamped) / (F.max("n") * 100.0)).alias("mean_winsorized"),
        )
    )

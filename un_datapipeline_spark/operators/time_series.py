"""Time-series operators over the events stream table: resampling with
gap fill and series-similarity (PAPERS.md anchors: streaming time-series
similarity) — batch formulations whose shapes carry to the streaming
tier unchanged (same groupBy(window) core).

Scale: everything aggregates to the time-bucket grain first (cardinality
= buckets × keys, independent of event volume), so the expensive steps
run on tiny intermediates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    cents_sum_sql,
    exact_double_sql,
    load_table,
    valid_ts,
    valid_ts_sql,
)

_RESAMPLE_ORACLE = f"""
WITH ev AS (SELECT * FROM events WHERE {valid_ts_sql()}),
spine AS (
  SELECT unnest(generate_series(
           (SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) FROM ev),
           (SELECT date_trunc('hour', max(CAST(ts AS TIMESTAMP))) FROM ev),
           INTERVAL 1 HOUR)) AS hour
), types AS (SELECT DISTINCT event_type FROM ev),
grid AS (SELECT hour, event_type FROM spine CROSS JOIN types),
hourly AS (
  -- VARCHAR round-trip (r12 magneg catalog): the hourly Σcents is
  -- HUGEINT and its naked →DOUBLE conversion mis-rounds negatives
  -- past 2^53; no output ROUND — ill-defined once |avg| ulp > 1e-6
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         {exact_double_sql(cents_sum_sql())}
           / (100.0 * count(*)) AS avg_val
  FROM ev GROUP BY hour, event_type
)
SELECT g.event_type, g.hour,
       CAST(h.avg_val IS NULL AS INT) AS gap_filled,
       coalesce(h.avg_val,
             last_value(h.avg_val IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS val
FROM grid g LEFT JOIN hourly h ON g.hour = h.hour AND g.event_type = h.event_type
"""


@register("ts_resample_ffill", oracle=_RESAMPLE_ORACLE, tier="T3")
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense hourly grid per event_type and
    forward-fill gaps from the previous observed hour.  The spine is
    generated (sequence over the observed range), so missing hours exist
    as rows — the precondition for any downstream windowed model.

    Bounded-spine contract: the spine spans min..max of the OBSERVED
    range, so one decades-out corrupt timestamp would materialize a
    150-year grid (task OOM at cluster scale — the ``--timewarp`` sweep
    corpus, 6k rows, confirmed a >7-minute hang).  ``valid_ts`` bounds
    the range to the documented validity window on both engines (see
    tables.py); the filter is a scan-pushable BETWEEN."""
    e = load_table(spark, sf_dir, "events").where(valid_ts())
    # events.value is exact cents (verified): summing integer cents and
    # dividing ONCE gives bit-identical averages in both engines — a
    # float avg() of money frequently lands exactly on rounding
    # boundaries where summation-order ulps flip the rounded digit.
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg((F.sum(cents_col("value")) / (100.0 * F.count(F.lit(1)))).alias("avg_val"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    grid = spine.crossJoin(types)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = grid.join(hourly, ["hour", "event_type"], "left")
    return joined.select(
        "event_type",
        "hour",
        F.col("avg_val").isNull().cast("int").alias("gap_filled"),
        # unrounded (see oracle note): ill-defined ROUND at wide
        # magnitudes; both engines divide the identically-converted
        # exact hourly sum once
        F.coalesce(
            "avg_val", F.last("avg_val", ignorenulls=True).over(w)
        ).alias("val"),
    )


# hourly v rides the VARCHAR round-trip (r12): identical CTE shape to
# ts_resample_ffill, which FIRED on the magneg corpus — here the 2-ulp
# input shift was only absorbed by the final ROUND(corr, 5), i.e. one
# unlucky boundary away from a mismatch, so the input lane is converted
# rather than left to luck.
_CORR_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         {exact_double_sql(cents_sum_sql())}
           / (100.0 * count(*)) AS v
  FROM events GROUP BY hour, event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_hours,
       ROUND(corr(a.v, b.v), 5) AS series_corr
FROM hourly a JOIN hourly b ON a.hour = b.hour AND a.event_type < b.event_type
GROUP BY type_a, type_b
"""


@register("ts_similarity_corr", oracle=_CORR_ORACLE, tier="T3")
def ts_similarity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise series similarity: Pearson correlation between
    event_types' hourly mean-value series (co-observed hours).  The
    series join runs on the bucketed intermediate (≤ hours × types
    rows), never on raw events — the standard trick that makes all-pairs
    series similarity tractable at stream scale."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg((F.sum(cents_col("value")) / (100.0 * F.count(F.lit(1)))).alias("v"))
    a = hourly.select(
        F.col("hour").alias("h"), F.col("event_type").alias("type_a"), F.col("v").alias("va")
    )
    b = hourly.select(
        F.col("hour").alias("h"), F.col("event_type").alias("type_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, (a.h == b.h) & (a.type_a < b.type_b))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.corr("va", "vb"), 5).alias("series_corr"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (grouped sequential scan)
# ---------------------------------------------------------------------------


@register("ts_ewma_smooth", oracle=None, tier="T3")
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.2) of each event
    type's value series, in time order.  Rows-only: EWMA is a recursive
    accumulation — engines disagree in the last float ulp after thousands
    of multiply-adds, so no cross-engine hash can be stable; the pytest
    invariant recomputes a full group with pandas `ewm` and matches to
    1e-9.

    Scale shape: `applyInPandas` keyed by event_type — each group is one
    Arrow batch stream processed as a vectorized pandas ewm (C loop, not
    per-row Python).  This is the canonical 'grouped sequential scan'
    pattern: anything recursive-per-key (EWMA, Kalman, run-length state)
    distributes by key and stays linear inside the key.  A key whose
    history exceeds one executor's memory needs the chunked-state
    variant (stream_custom_stateful shows it)."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pdf["ewma"] = pdf["value"].ewm(alpha=0.2, adjust=False).mean().round(6)
        return pdf[["event_id", "event_type", "value", "ewma"]]

    return e.groupBy("event_type").applyInPandas(
        smooth, "event_id long, event_type string, value double, ewma double"
    )


# ---------------------------------------------------------------------------
# Gap detection
# ---------------------------------------------------------------------------

_GAP_ORACLE = """
WITH gaps AS (
  SELECT event_type, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_1m
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@register("ts_gap_detect", oracle=_GAP_ORACLE, tier="T3")
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health gap detection: per event type, inter-arrival gaps via
    lag(), with max gap and the count of gaps exceeding one minute — the
    monitor that catches a stalled upstream partition.  Gap math is
    exact integer µs.

    Scale shape: one shuffle on event_type, lag inside the sorted
    partition, then a partial-aggregated rollup to 5 rows.  For a
    single giant key, pre-bucket by (type, hour) and stitch boundaries —
    the two-phase pattern etl_pack_sequences demonstrates."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.sum(F.when(F.col("gap_us") > 60_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_over_1m"),
    )


@register("ts_holt_forecast", oracle=None, tier="T3")
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) 7-day forecast per event_type:
    level/trend recursion l_t = α·y_t + (1−α)(l+b), b_t = β(l_t−l) +
    (1−β)b over the daily totals, then ŷ(h) = l + h·b.  The recursion
    is inherently sequential per series, so it runs as applyInPandas
    over the DAILY grain — each group is one bounded series (days per
    type), the exact shape where the grouped-map escape hatch is the
    right tool (udf_grouped_map's contract), while the heavy reduction
    from events to days stays in JVM aggregates.  Rows-only: the
    recursion has no closed SQL form; pytest pins linearity in h and
    7 horizons per type."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        (F.sum(cents_col("value")) / 100.0).alias("y")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        alpha, beta = 0.5, 0.3
        level, trend = float(y[0]), float(y[1] - y[0]) if len(y) > 1 else 0.0
        for t in range(1, len(y)):
            prev = level
            level = alpha * float(y[t]) + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        rows = [
            {
                "event_type": pdf["event_type"].iloc[0],
                "horizon": h,
                "forecast": round(level + h * trend, 2),
            }
            for h in range(1, 8)
        ]
        return pd.DataFrame(rows)

    return daily.groupBy("event_type").applyInPandas(
        holt, "event_type string, horizon int, forecast double"
    )


_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS eq
  FROM daily
), dd AS (
  SELECT event_type, day, eq,
         CAST(max(eq) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
  FROM cum
), worst AS (
  SELECT event_type, day, peak - eq AS dd_cents, peak,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY peak - eq DESC, day) AS rn
  FROM dd
)
SELECT event_type, CAST(day AS TIMESTAMP) AS trough_day,
       dd_cents / 100.0 AS max_drawdown,
       CAST(dd_cents AS DOUBLE) / NULLIF(peak, 0) AS drawdown_frac
FROM worst WHERE rn = 1
"""


@register("ts_max_drawdown", oracle=_DRAWDOWN_ORACLE, tier="T2")
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily total per event_type:
    running equity curve, running peak, and the deepest peak-to-trough
    fall with its trough day — the risk metric every monitoring
    dashboard wants next to the trend ops.  Equity and peak are exact
    BIGINT prefix aggregates over the daily grain (two stacked windows
    sharing one sort), the argmax tie-breaks to the earliest day, and
    the only float is the final fraction — one division, both engines
    identical."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("c")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.select(
        "event_type",
        "day",
        F.sum("c").over(w).alias("eq"),
    ).withColumn("peak", F.max("eq").over(w))
    worst = dd.select(
        "event_type",
        "day",
        (F.col("peak") - F.col("eq")).alias("dd_cents"),
        "peak",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                (F.col("peak") - F.col("eq")).desc(), F.col("day")
            )
        )
        .alias("rn"),
    )
    return worst.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("trough_day"),
        (F.col("dd_cents") / 100.0).alias("max_drawdown"),
        # NULLIF: an equity curve whose running peak sits exactly at 0
        # (cancelling corrupt measurements — the --magnitude sweep)
        # makes the fraction undefined; ANSI Spark would crash where
        # DuckDB NULLs
        (
            F.col("dd_cents").cast("double")
            / F.nullif(F.col("peak"), F.lit(0))
        ).alias("drawdown_frac"),
    )


_PEAKS_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), nb AS (
  SELECT event_type, day, c,
         lag(c) OVER (PARTITION BY event_type ORDER BY day) AS prev,
         lead(c) OVER (PARTITION BY event_type ORDER BY day) AS next
  FROM daily
)
SELECT event_type, CAST(day AS TIMESTAMP) AS peak_day, c / 100.0 AS peak_val,
       CAST(c - prev AS DOUBLE) / NULLIF(prev, 0) AS rise_frac,
       CAST(c - next AS DOUBLE) / NULLIF(next, 0) AS fall_frac
FROM nb
WHERE prev IS NOT NULL AND next IS NOT NULL AND c > prev AND c > next
"""


@register("ts_peak_detect", oracle=_PEAKS_ORACLE, tier="T2")
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum detection on the daily total series: days strictly
    above both neighbors, with the rise/fall fractions that let a
    caller threshold on prominence downstream.  Strict integer
    comparisons decide membership (no float can flip a peak in or
    out); the fractions are per-row single divisions.  One lag + one
    lead over the shared daily sort — interior days only, so endpoints
    never masquerade as peaks.  A ZERO-total neighbor day (legitimately
    zero, or voided wholesale by the ingest contract — the --magnitude
    sweep) makes the fraction undefined: NULLIF guards both divisions
    on both sides (ANSI Spark would crash, DuckDB quietly NULLs)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    nb = daily.select(
        "event_type",
        "day",
        "c",
        F.lag("c").over(w).alias("prev"),
        F.lead("c").over(w).alias("next"),
    )
    return nb.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("c") > F.col("prev"))
        & (F.col("c") > F.col("next"))
    ).select(
        "event_type",
        F.col("day").alias("peak_day"),
        (F.col("c") / 100.0).alias("peak_val"),
        # unrounded single divisions of exact integers: ROUND(x,6) at a
        # corrupt-magnitude fraction (ulp > 1e-6) is ill-defined — the
        # engines pick different nearest doubles (magnitude-v2)
        (
            (F.col("c") - F.col("prev")).cast("double")
            / F.nullif("prev", F.lit(0))
        ).alias("rise_frac"),
        (
            (F.col("c") - F.col("next")).cast("double")
            / F.nullif("next", F.lit(0))
        ).alias("fall_frac"),
    )


_BURST_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS tot, CAST(sum(c * c) AS BIGINT) AS sq
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, CAST(h.hour AS TIMESTAMP) AS hour, h.c AS n_events,
       ROUND(m.tot * 1.0 / m.n, 6) AS mean_events,
       ROUND((m.n * h.c - m.tot) * 1.0
             / sqrt(m.n * 1.0 * (m.n * m.sq - m.tot * m.tot) / (m.n - 1)), 6)
         AS zscore
FROM hourly h JOIN m USING (event_type)
WHERE (m.n - 1) * (m.n * h.c - m.tot) * (m.n * h.c - m.tot)
      > 9 * m.n * (m.n * m.sq - m.tot * m.tot)
  AND h.c * m.n > m.tot
"""


@register("ts_burst_detect", oracle=_BURST_ORACLE, tier="T2")
def ts_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection on hourly event counts: hours whose count sits
    more than 3 population-scaled standard deviations ABOVE the
    per-type mean.  The membership test never touches a float — the
    z > 3 criterion is algebraically rescaled to the exact-BIGINT
    comparison (n−1)·(n·c − T)² > 9·n·(n·Σc² − T²) with a sign guard,
    so the burst SET is bit-deterministic and only the reported z-score
    takes a (literal-formula) square root.  Counts aggregate to the
    hourly grain first; the moment row per type is a broadcast-sized
    join side."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    j = hourly.join(F.broadcast(m), "event_type")
    n, tot, sq, c = F.col("n"), F.col("tot"), F.col("sq"), F.col("c")
    dev = n * c - tot
    var_n = n * sq - tot * tot
    return j.filter(((n - 1) * dev * dev > 9 * n * var_n) & (c * n > tot)).select(
        "event_type",
        "hour",
        c.alias("n_events"),
        F.round(tot * 1.0 / n, 6).alias("mean_events"),
        F.round(dev * 1.0 / F.sqrt(n * 1.0 * var_n / (n - 1)), 6).alias("zscore"),
    )


_BACKTEST_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, d, cents,
         lag(cents, 7) OVER (PARTITION BY event_type ORDER BY d) AS snaive,
         lag(cents, 1) OVER (PARTITION BY event_type ORDER BY d) AS naive
  FROM daily
)
SELECT event_type,
       count(*)                                   AS n_origins,
       CAST(sum(abs(cents - snaive)) AS BIGINT)   AS ae_snaive_cents,
       CAST(sum(abs(cents - naive)) AS BIGINT)    AS ae_naive_cents,
       CAST(sum(abs(cents - snaive)) AS BIGINT)
         / (100.0 * count(*)) AS mae_snaive,
       CAST(sum(abs(cents - naive)) AS BIGINT)
         / (100.0 * count(*)) AS mae_naive,
       CAST(CASE WHEN sum(abs(cents - snaive)) < sum(abs(cents - naive))
            THEN 1 ELSE 0 END AS INT)             AS snaive_wins
FROM lagged
WHERE snaive IS NOT NULL AND naive IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@register("ts_backtest_snaive", oracle=_BACKTEST_ORACLE, tier="T2")
def ts_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest — the evaluation harness every
    forecasting operator (ts_holt_forecast, ts_seasonal_decompose)
    should be judged by: walk forward through the daily series, at each
    origin "forecast" the day from what was known before it, and score
    the absolute error.  Two standard baselines: seasonal-naive (value
    from 7 days back — the bar any seasonal model must beat) and naive
    (yesterday).  Origins where either forecast is undefined (the first
    week) are excluded, exactly as a real backtest window would.

    All arithmetic rides the integer-cent lane: daily totals, lags and
    absolute errors are BIGINTs, the MAEs are one division at the end —
    bit-identical across engines.  Scale: one partial+final hash agg to
    daily grain (the only fact-sized shuffle), then windows over
    calendar-bounded per-type series."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents_col("value")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "cents",
        F.lag("cents", 7).over(w).alias("snaive"),
        F.lag("cents", 1).over(w).alias("naive"),
    ).filter(F.col("snaive").isNotNull() & F.col("naive").isNotNull())
    ae_s = F.sum(F.abs(F.col("cents") - F.col("snaive")))
    ae_n = F.sum(F.abs(F.col("cents") - F.col("naive")))
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_origins"),
            ae_s.alias("ae_snaive_cents"),
            ae_n.alias("ae_naive_cents"),
            # unrounded single divisions of exact integers (ROUND at
            # corrupt magnitudes is ill-defined — magnitude-v2)
            (ae_s / (100.0 * F.count(F.lit(1)))).alias("mae_snaive"),
            (ae_n / (100.0 * F.count(F.lit(1)))).alias("mae_naive"),
            F.when(ae_s < ae_n, 1).otherwise(0).cast("int").alias("snaive_wins"),
        )
        .orderBy("event_type")
    )


_LOCAL_DAY_DST_ORACLE = """
WITH yrs AS (
  SELECT DISTINCT year(CAST(ts AS TIMESTAMP)) AS y FROM events
), bounds AS (
  -- US DST: 2nd Sunday of March 07:00 UTC → 1st Sunday of November 06:00 UTC
  SELECT y,
         make_date(y, 3, 1)  + INTERVAL (((7 - isodow(make_date(y, 3, 1))) % 7) + 7) DAY AS dst_start_day,
         make_date(y, 11, 1) + INTERVAL ((7 - isodow(make_date(y, 11, 1))) % 7) DAY     AS dst_end_day
  FROM yrs
), shifted AS (
  SELECT e.ts,
         CAST(e.ts AS TIMESTAMP)
           - INTERVAL 5 HOUR
           + CASE WHEN CAST(e.ts AS TIMESTAMP) >= CAST(b.dst_start_day AS TIMESTAMP) + INTERVAL 7 HOUR
                   AND CAST(e.ts AS TIMESTAMP) <  CAST(b.dst_end_day   AS TIMESTAMP) + INTERVAL 6 HOUR
                  THEN INTERVAL 1 HOUR ELSE INTERVAL 0 HOUR END AS local_ts
  FROM events e JOIN bounds b ON year(CAST(e.ts AS TIMESTAMP)) = b.y
)
-- local_day is relabeled TIMESTAMP on BOTH sides (round 10,
-- R10_EMPTY_PLAN class 4): a 0-row DateType column loses its dtype at
-- the pandas boundary (object column with no values to infer from);
-- the midnight-timestamp relabel is bitwise-neutral on non-empty data
-- and arrow-stable at 0 rows.
SELECT CAST(CAST(local_ts AS DATE) AS TIMESTAMP) AS local_day,
       CAST(count(*) AS BIGINT) AS n
FROM shifted
GROUP BY 1
ORDER BY 1
"""


@register("ts_local_day_dst", oracle=_LOCAL_DAY_DST_ORACLE, tier="T2")
def ts_local_day_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DST-correct local-calendar rollup: UTC event timestamps bucketed
    into America/New_York LOCAL days via from_utc_timestamp — the
    conversion that makes "daily active users" right for a US-market
    dashboard, where a fixed −5h offset silently shifts every summer
    event after 7pm ET into the wrong day.  Spark consults the IANA
    tzdb; the oracle INDEPENDENTLY derives the US DST rule (second
    Sunday of March 07:00 UTC → first Sunday of November 06:00 UTC,
    computed for whatever years the data spans) — so the hash match is
    two independent implementations of the conversion, not one tzdb
    echoing itself.  The shipped testdata spans January only (no DST
    boundary), so tests/test_engine_extras.py::test_dst_boundary_shift
    replays the op's conversion over synthesized timestamps straddling
    both 2024 boundaries and asserts the spring-forward/fall-back hour
    shifts against the same rule.  Plan: pure column expression feeding
    one hash agg; timezone math never causes a shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            # cast to TIMESTAMP (round 10, class 4): see the oracle note
            # — a pure type relabel of the local date, empty-frame-stable
            F.to_date(F.from_utc_timestamp("ts", "America/New_York"))
            .cast("timestamp")
            .alias("local_day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("local_day")
    )


# ---------------------------------------------------------------------------
# LTTB downsampling (largest-triangle-three-buckets), exact-integer areas
# ---------------------------------------------------------------------------

_LTTB_K = 10  # points kept per series (first + 8 bucket picks + last)


def _lttb_oracle() -> str:
    """Unrolled first-principles LTTB in plain SQL: the sequential
    selection (each pick depends on the previous one) is replayed as
    K-2 chained CTEs, one per bucket — window argmax per step, exact
    integer areas, no recursion needed because K is a constant."""
    b_cnt = _LTTB_K - 2
    parts = [
        f"""
WITH pts AS (
  -- days with NO observed measurement are NOT series points: without
  -- the filter an all-NULL day yields y = NULL, which DuckDB carries
  -- as a NULL point while the numpy kernel silently casts the NaN to
  -- INT64_MIN — divergent picks (r08 --nonfinite sweep)
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS x,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
), seq AS (
  SELECT event_type, x, y,
         row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
         count(*)    OVER (PARTITION BY event_type)             AS n
  FROM pts
), shortseries AS (
  -- n <= K series are kept VERBATIM (sel_order = rn - 1): with fewer
  -- interior points than buckets the chained-argmax CTEs below collapse
  -- on the first empty bucket (anchor/prev joins produce nothing), so
  -- the bucket machinery is restricted to n > K where every bucket is
  -- provably non-empty (m = n - 2 > {b_cnt})
  SELECT event_type, CAST(rn - 1 AS BIGINT) AS sel_order, x, y
  FROM seq WHERE n <= {_LTTB_K}
), firstp AS (SELECT event_type, x, y FROM seq WHERE rn = 1 AND n > {_LTTB_K}),
lastp  AS (SELECT event_type, x, y FROM seq WHERE rn = n AND n > {_LTTB_K}),
interior AS (
  SELECT event_type, x, y,
         CAST(((rn - 2) * {b_cnt}) // (n - 2) AS BIGINT) AS b
  FROM seq WHERE rn > 1 AND rn < n AND n > {_LTTB_K}
), cent AS (
  SELECT event_type, b, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
  FROM interior GROUP BY event_type, b
)"""
    ]
    for b in range(b_cnt):
        prev = "firstp" if b == 0 else f"s{b - 1}"
        if b < b_cnt - 1:
            anchor = (
                f"(SELECT event_type, c, sx, sy FROM cent WHERE b = {b + 1})"
            )
        else:
            anchor = (
                "(SELECT event_type, CAST(1 AS BIGINT) AS c, x AS sx,"
                " y AS sy FROM lastp)"
            )
        parts.append(
            f""", s{b} AS (
  SELECT event_type, x, y FROM (
    SELECT c.event_type, c.x, c.y,
           row_number() OVER (PARTITION BY c.event_type ORDER BY
             abs((p.x * a.c - a.sx) * (c.y - p.y)
                 - (p.x - c.x) * (a.sy - p.y * a.c)) DESC,
             c.x ASC) AS rk
    FROM interior c
    -- IS NOT DISTINCT FROM (round 9, class 3): a NULL event_type is a
    -- real series — plain equality drops its 8 interior picks while the
    -- Spark applyInPandas group keeps them (probed 60 vs 52 rows)
    JOIN {prev} p ON p.event_type IS NOT DISTINCT FROM c.event_type
    JOIN {anchor} a ON a.event_type IS NOT DISTINCT FROM c.event_type
    WHERE c.b = {b}
  ) WHERE rk = 1
)"""
        )
    unions = [
        "SELECT event_type, sel_order, x AS x_day, y AS y_cents FROM shortseries",
        "SELECT event_type, CAST(0 AS BIGINT) AS sel_order, x AS x_day, y AS y_cents FROM firstp",
    ]
    unions += [
        f"SELECT event_type, CAST({b + 1} AS BIGINT), x, y FROM s{b}"
        for b in range(b_cnt)
    ]
    unions.append(
        f"SELECT event_type, CAST({_LTTB_K - 1} AS BIGINT), x, y FROM lastp"
    )
    return (
        "".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(unions)
        + "\nORDER BY event_type, sel_order"
    )


@register("ts_lttb_downsample", oracle=_lttb_oracle(), tier="T3")
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (largest-triangle-three-buckets) downsampling — the standard
    visual-fidelity reduction for dashboard rendering: each daily
    cents series per event_type is reduced to K=10 points (endpoints
    pinned; each of the K-2 interior buckets keeps the point forming the
    largest triangle with the PREVIOUSLY kept point and the next
    bucket's centroid).

    Determinism lane: all coordinates are integers (day offsets,
    summed cents) and the triangle area is kept in the integer domain by
    scaling through the next-bucket count c instead of dividing for the
    centroid — A' = |(x_prev·c − Σx)(y_i − y_prev) − (x_prev − x_i)
    (Σy − y_prev·c)| — so the argmax (ties → smaller x) is
    bit-deterministic and the driver hash-matches it.  The oracle
    replays the sequential selection as K-2 chained window-argmax CTEs
    (unrolled — K is a constant, so no recursion is needed).

    Scale shape: the per-day pre-aggregation is one distributed hash
    agg; the O(n·K) selection runs inside applyInPandas keyed by series
    — embarrassingly parallel across the MILLIONS of series a real
    metrics store holds, with each group a tiny (n≈30-row) numpy
    problem.  A series too big for one task would be pre-thinned by a
    coarser daily/hourly rollup first (ts_multires_rollup)."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    # days with no observed measurement are dropped on BOTH sides (see
    # the oracle's pts comment — NULL y vs NaN→INT64_MIN divergence)
    daily = (
        e.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.sum(cents_col("value")).cast("long").alias("y"))
    )

    K = _LTTB_K

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x").reset_index(drop=True)
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        n = len(x)
        if n <= K:
            # short series are kept VERBATIM, sel_order 0..n-1 — the
            # oracle's dedicated shortseries branch (its chained-argmax
            # CTEs collapse on empty buckets, so they only run for
            # n > K, where every bucket is provably non-empty; the
            # round-6 review caught 3 <= n <= 9 diverging under the
            # earlier bucket-relabeling scheme)
            sel = list(range(n))
            out = pdf.iloc[sel].reset_index(drop=True)
            return pd.DataFrame(
                {
                    "event_type": out["event_type"],
                    "sel_order": np.arange(n, dtype=np.int64),
                    "x_day": out["x"].to_numpy(np.int64),
                    "y_cents": out["y"].to_numpy(np.int64),
                }
            )
        else:
            m = n - 2
            B = K - 2
            bucket = (np.arange(m, dtype=np.int64) * B) // m  # interior buckets
            sel = [0]
            for b in range(B):
                idx = np.nonzero(bucket == b)[0] + 1  # absolute indices
                if b < B - 1:
                    nxt = np.nonzero(bucket == b + 1)[0] + 1
                    c, sx, sy = len(nxt), int(x[nxt].sum()), int(y[nxt].sum())
                else:
                    c, sx, sy = 1, int(x[n - 1]), int(y[n - 1])
                px, py = int(x[sel[-1]]), int(y[sel[-1]])
                areas = np.abs(
                    (px * c - sx) * (y[idx] - py) - (px - x[idx]) * (sy - py * c)
                )
                sel.append(int(idx[int(np.argmax(areas))]))  # ties -> smaller x
            sel.append(n - 1)
        out = pdf.iloc[sel].reset_index(drop=True)
        return pd.DataFrame(
            {
                "event_type": out["event_type"],
                "sel_order": np.arange(len(sel), dtype=np.int64),
                "x_day": out["x"].to_numpy(np.int64),
                "y_cents": out["y"].to_numpy(np.int64),
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            lttb, "event_type string, sel_order long, x_day long, y_cents long"
        )
        .orderBy("event_type", "sel_order")
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation (lead/lag discovery between two series)
# ---------------------------------------------------------------------------

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY event_type, CAST(ts AS DATE)
), a AS (SELECT d, cents FROM daily WHERE event_type = 'view'),
b AS (SELECT d, cents FROM daily WHERE event_type = 'purchase'),
lags AS (SELECT CAST(k AS BIGINT) AS lag FROM generate_series(-3, 3) t(k)),
joined AS (
  SELECT l.lag, a.cents AS av, b.cents AS bv
  FROM lags l
  JOIN a ON TRUE
  JOIN b ON b.d = a.d + CAST(l.lag AS INT)
), mom AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(av) AS BIGINT) AS sa, CAST(sum(bv) AS BIGINT) AS sb,
         sum(CAST(av AS HUGEINT) * av) AS saa,
         sum(CAST(bv AS HUGEINT) * bv) AS sbb,
         sum(CAST(av AS HUGEINT) * bv) AS sab
  FROM joined GROUP BY lag
)
SELECT lag, n,
       ROUND(CAST(CAST(n * sab - CAST(sa AS HUGEINT) * sb AS VARCHAR) AS DOUBLE)
             / NULLIF(sqrt(CAST(CAST(n * saa - CAST(sa AS HUGEINT) * sa AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(n * sbb - CAST(sb AS HUGEINT) * sb AS VARCHAR) AS DOUBLE)), 0), 6)
         AS r
FROM mom ORDER BY lag
"""


@register("ts_cross_correlation_lagged", oracle=_XCORR_ORACLE, tier="T2")
def ts_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two daily series (view cents vs
    purchase cents, lags −3..+3 days) — the lead/lag-discovery primitive
    behind marketing-attribution and leading-indicator analyses: the lag
    maximizing r tells you how many days one series leads the other.

    Determinism lane: closed-form-over-moments — all five sums are
    exact BIGINTs per lag, Pearson r is ONE double expression over them
    (no accumulation-order exposure), rounded to 6dp on both sides.

    Scale shape: the daily pre-aggregation shrinks the fact table to
    series-length rows; the 7-lag shift-join is an equi-join on the
    shifted day key (lags × days rows total).  At 100 TB the same
    pattern runs per (series-pair, lag) with the pre-agg doing all the
    data reduction — the join never touches raw events."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(cents_col("value")).cast("long").alias("cents"))
    )
    a = daily.filter(F.col("event_type") == "view").select(
        F.col("d").alias("ad"), F.col("cents").alias("av")
    )
    b = daily.filter(F.col("event_type") == "purchase").select(
        F.col("d").alias("bd"), F.col("cents").alias("bv")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    joined = lags.join(a).join(
        b, F.col("bd") == F.date_add(F.col("ad"), F.col("lag").cast("int"))
    )
    # products of daily cents ride DECIMAL(38,0) (oracle: HUGEINT) —
    # one surviving large day overflows int64 per-element, and the
    # sa·sb cross-terms overflow it even on clean large series
    # (magnitude-v2 contract)
    av_d = F.col("av").cast("decimal(38,0)")
    bv_d = F.col("bv").cast("decimal(38,0)")
    mom = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("av").cast("long").alias("sa"),
        F.sum("bv").cast("long").alias("sb"),
        F.sum(av_d * F.col("av")).alias("saa"),
        F.sum(bv_d * F.col("bv")).alias("sbb"),
        F.sum(av_d * F.col("bv")).alias("sab"),
    )
    sa_dec = F.col("sa").cast("decimal(38,0)")
    num = (F.col("n") * F.col("sab") - sa_dec * F.col("sb")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - sa_dec * F.col("sa")).cast("double")
        * (
            F.col("n") * F.col("sbb")
            - F.col("sb").cast("decimal(38,0)") * F.col("sb")
        ).cast("double")
    )
    # nullif: a constant series (zero variance — e.g. both series have
    # one day of data at some lag) has UNDEFINED r; ANSI Spark throws
    # DIVIDE_BY_ZERO where DuckDB NaNs, so both texts return NULL
    # (round-7 --ties sweep, the same guard class as ts_autocorrelation).
    return mom.select(
        "lag", "n", F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r")
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# M4 visualization downsampling
# ---------------------------------------------------------------------------

_M4_ORACLE = f"""
WITH c AS (
  SELECT event_type, ts, event_id,
         {cents_sql("value")} AS cents,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket
  FROM events
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bucket
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM c
)
SELECT event_type, bucket,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(min(cents) / 100.0, 2) AS v_min,
       ROUND(max(cents) / 100.0, 2) AS v_max,
       ROUND(CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) / 100.0, 2)
         AS v_first,
       ROUND(CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) / 100.0, 2)
         AS v_last
FROM ranked GROUP BY event_type, bucket
"""


@register("ts_m4_downsample", oracle=_M4_ORACLE, tier="T2")
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, time
    bucket) keep exactly min, max, first, and last — the four values
    that make a line chart rendered at bucket resolution pixel-perfect,
    and the error-free alternative to averaging when shipping 100 TB of
    raw points to a dashboard is the actual request.  LTTB
    (ts_lttb_downsample) preserves visual SHAPE with a point budget;
    M4 preserves rendering EXACTLY with 4 points per pixel column —
    the two published ends of the downsampling trade.

    first/last are pinned by the unique (ts, event_id) total order on
    both engines (PARITY.md total-order rule) via two row_number
    windows that share the aggregate's (event_type, bucket)
    partitioning — so the whole operator is ONE shuffle, then a
    bounded hash agg (grain = series × buckets).  Values stay exact
    cents until the final /100 display division."""
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        "ts",
        "event_id",
        cents_col("value").alias("cents"),
        F.date_trunc("hour", "ts").alias("bucket"),
    )
    wa = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = c.select(
        "event_type",
        "bucket",
        "cents",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("cents") / 100.0, 2).alias("v_min"),
        F.round(F.max("cents") / 100.0, 2).alias("v_max"),
        F.round(
            F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).cast("long") / 100.0, 2
        ).alias("v_first"),
        F.round(
            F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).cast("long") / 100.0, 2
        ).alias("v_last"),
    )


# ---------------------------------------------------------------------------
# Rolling active users (DAU / WAU / MAU)
# ---------------------------------------------------------------------------

_ACTIVE_USERS_ORACLE = """
WITH act AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events
), days AS (SELECT DISTINCT day FROM act),
wau AS (
  SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
  FROM days d JOIN act a
    ON a.day <= d.day AND a.day > d.day - INTERVAL 7 DAY
  GROUP BY d.day
), mau AS (
  SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS mau
  FROM days d JOIN act a
    ON a.day <= d.day AND a.day > d.day - INTERVAL 28 DAY
  GROUP BY d.day
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day
)
SELECT day, dau, wau, mau,
       CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau USING (day) JOIN mau USING (day)
"""


@register("ts_rolling_active_users", oracle=_ACTIVE_USERS_ORACLE, tier="T2")
def ts_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and DAU/MAU stickiness per day — the engagement
    rollup every product-analytics stack runs daily, and a genuinely
    hard distributed shape: rolling COUNT(DISTINCT) cannot use a plain
    window frame (distinct doesn't decompose over sliding frames).

    Formulation: deduplicate to (day, user) activity FIRST — the only
    fact-sized shuffle — then explode each activity row into the ≤ 28
    trailing report days it contributes to (the join_interval
    discretization: bounded fan-out, equi-join on day, exact distinct
    per day).  Fan-out is 28 × |distinct (day,user)|, orders of
    magnitude below raw events, and every aggregate stays exact.  At
    100 TB you'd swap the exact distinct for the mergeable bitmap lane
    (agg_bitmap_distinct) — same plan shape, sketch combine instead of
    the distinct; stickiness is one ×10⁶ integer division."""
    e = load_table(spark, sf_dir, "events")
    act = e.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # explode each (day,user) into the trailing report days it serves
    def rolled(window_days: int, name: str) -> DataFrame:
        contrib = act.select(
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.date_add(F.col("day").cast("date"), window_days - 1).cast(
                        "timestamp"
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
            "user_id",
        )
        # only days that actually exist in the data report
        return (
            contrib.join(dau.select("day"), "day")
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias(name))
        )

    wau, mau = rolled(7, "wau"), rolled(28, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.expr("dau * 1000000 DIV mau").cast("long").alias("stickiness_ppm"),
        )
    )

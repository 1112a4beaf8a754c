"""Window-function operators (SURVEY.md §2.E).

Windows shuffle once on the partition key and sort within partitions;
every ORDER BY carries a unique tiebreaker column so rank-family outputs
are deterministic (SURVEY.md §5.3.3).  Running double aggregates are
rounded on both sides — DuckDB computes window sums via segment trees,
so the accumulation order differs from Spark's sequential frame.
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
)

_RANK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       row_number()   OVER w AS rn,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS nt,
       percent_rank() OVER w AS prk,
       cume_dist()    OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


@register("win_ranking", oracle=_RANK_ORACLE, tier="T1")
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking family per customer over orders by totalprice desc
    (orderkey tiebreak ⇒ deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("nt"),
        F.percent_rank().over(w).alias("prk"),
        F.cume_dist().over(w).alias("cd"),
    )


_RUNNING_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ROUND(sum(l_extendedprice) OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_rev
FROM lineitem
"""


@register("win_running_sum", oracle=_RUNNING_ORACLE, tier="T1")
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per order by line number.  Partitions are tiny
    (≤7 lines/order) and numerous — the shuffle distributes on
    l_orderkey, so this scales horizontally with no skew.

    NOTE: (l_orderkey, l_linenumber) is NOT unique in this data
    (measured: 11,785 duplicate pairs at sf0.01), so the window ORDER BY
    carries (l_partkey, l_suppkey, l_extendedprice) tiebreakers — the
    full tuple is unique at sf0.01/0.1 — making the accumulation order,
    and hence every running value, engine-independent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 4).alias("running_rev"),
    )


_TOPK_GRP_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
"""


@register("win_topk_per_group", oracle=_TOPK_GRP_ORACLE, tier="T1")
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — window + rank filter.  At scale the
    rank filter is pushed into the window operator by Catalyst
    (WindowGroupLimit) so each partition only materializes 3 rows."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


_ANALYTIC_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey,
       lag(l_quantity)            OVER w AS prev_qty,
       lead(l_quantity)           OVER w AS next_qty,
       first_value(l_extendedprice) OVER w AS first_price,
       last_value(l_extendedprice)  OVER w AS last_price
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("win_analytic", oracle=_ANALYTIC_ORACLE, tier="T2")
def win_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first/last per order over its lines.  The explicit ROWS
    running frame + unique-tuple ORDER BY (see win_running_sum note on
    duplicate (orderkey, linenumber) pairs) makes first/last and the
    lag/lead neighbors engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    # lag/lead demand the default frame in Spark; first/last use the
    # explicit running frame.  Both share one sort (same partition+order).
    wo = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.lag("l_quantity").over(wo).alias("prev_qty"),
        F.lead("l_quantity").over(wo).alias("next_qty"),
        F.first("l_extendedprice").over(wf).alias("first_price"),
        F.last("l_extendedprice").over(wf).alias("last_price"),
    )


# VARCHAR round-trip + NO output ROUND (r12 magneg catalog): the window
# sum is HUGEINT whose naked →DOUBLE conversion MIS-ROUNDS negative
# values past 2^53, and ROUND(x,6) is ill-defined once |avg| ulp > 1e-6
# (tables.exact_double_sql doctrine).  The unrounded division of the
# identically-converted sum is bit-identical on both engines.
_SLIDING_ORACLE = f"""
SELECT event_id, user_id,
       {exact_double_sql(cents_sum_sql() + " OVER w")}
             / (100.0 * count(*) OVER w) AS mov_avg
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@register("win_sliding_range", oracle=_SLIDING_ORACLE, tier="T2")
def win_sliding_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average of `value` over a trailing 1-hour RANGE
    frame.  Both engines order by integer epoch-seconds so the frame
    boundaries are identical; RANGE frames include all peers of the
    current second, so tie order is irrelevant.  The average is an exact
    integer cent sum divided once — windowed float sums accumulate in
    engine-specific order (Spark sequential vs DuckDB segment tree) and
    money averages sit on rounding boundaries (SURVEY.md §5.3.1).  At
    scale this shuffles once on user_id — time-ordered state never
    leaves the partition."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    cents = cents_col("value")
    return e.select(
        "event_id",
        "user_id",
        # unrounded (see oracle note): exact long window-sum → double
        # once, then one division — identical on both engines at any
        # surviving magnitude
        (
            F.sum(cents).over(w) / (100.0 * F.count(F.lit(1)).over(w))
        ).alias("mov_avg"),
    )


# ---------------------------------------------------------------------------
# Debounce dedup (first event per key per time bucket)
# ---------------------------------------------------------------------------

_DEBOUNCE_ORACLE = """
WITH ranked AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) // 300000000 AS bucket,
         row_number() OVER (PARTITION BY user_id, event_type,
                                         epoch_us(ts) // 300000000
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, user_id, event_type, CAST(bucket AS BIGINT) AS bucket
FROM ranked WHERE rn = 1
"""


@register("win_dedup_debounce", oracle=_DEBOUNCE_ORACLE, tier="T2")
def win_dedup_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce deduplication: keep only the FIRST event per (user,
    event_type) inside each 5-minute bucket — the batch formulation of
    the duplicate-suppression a click collector applies (stream_dedup is
    the streaming twin).  Bucketing is exact integer µs division, so
    both engines agree on every boundary.

    Scale shape: one shuffle keyed by (user, type, bucket); row_number
    sorts only within a key's bucket (a handful of rows).  This beats
    dropDuplicates on the same key only in that it picks a DETERMINISTIC
    survivor (earliest, then lowest id) rather than an arbitrary one."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 300000000")
    w = Window.partitionBy("user_id", "event_type", bucket.alias("b")).orderBy(
        "ts", "event_id"
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            bucket.cast("long").alias("bucket"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "event_type", "bucket").orderBy(
                    "ts", "event_id"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# Distribution-rank window family
# ---------------------------------------------------------------------------

_PCTRANK_ORACLE = """
SELECT o_orderstatus, o_orderkey, o_totalprice,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist()    OVER w, 6) AS cume,
       ntile(4)             OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice NULLS LAST, o_orderkey)
QUALIFY o_orderkey % 37 = 0
"""


@register("win_percent_rank_cume", oracle=_PCTRANK_ORACLE, tier="T2")
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks per order-status: percent_rank ((rank−1)/(n−1)),
    cume_dist (rows ≤ current / n), and quartile ntile, sampled to every
    37th key to keep the verified output bounded.  Both engines compute
    the ranks from identical integer (rank, n) pairs — one division each,
    no accumulation — so 6dp rounding is safe.

    Scale shape: one shuffle on o_orderstatus; the per-partition sort is
    the same one every rank-family window pays.  The %37 sample filter
    applies AFTER ranking (it must — ranks are over the full partition),
    so it prunes output size, not compute.

    NULL rank keys (round 9, class 3): Spark orders NULLS FIRST
    ascending, DuckDB NULLS LAST — a single NULL o_totalprice would
    shift every rank in its partition differently per engine.  Pinned
    NULLS LAST explicitly on BOTH sides (the rows stay ranked; dropping
    them would change n and every percent_rank denominator)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("o_orderkey") % 37 == 0)
    )


_MOVING_MEDIAN_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROUND(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med5
FROM orders
WHERE o_custkey % 17 = 0
ORDER BY o_custkey, o_orderkey
"""


@register("win_moving_median", oracle=_MOVING_MEDIAN_ORACLE, tier="T2")
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving MEDIAN of order value per customer — the
    robust-statistics window (outlier-resistant smoothing) that mean
    windows can't substitute for.  Spark disallows `median`/`percentile`
    aggregates over a bounded window frame (INVALID_WINDOW_SPEC — probed),
    so the frame is materialized with collect_list, sorted, and the
    median interpolated by element arithmetic — with linear-interpolation
    semantics matching DuckDB's quantile_cont (plain DuckDB `median` on
    DECIMAL takes the lower middle, another probed difference the oracle
    avoids).  The frame is row-bounded at 5 → the array is O(5) per row
    regardless of scale.  The (o_orderdate, o_orderkey) sort key is
    unique per customer, pinning frame contents across engines; the %17
    key filter bounds output and is pushed below the window since it
    references the partition key."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    frame = F.sort_array(F.collect_list("o_totalprice").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, F.ceil((n + 1) / 2).cast("int"))
    # n = 0 guard (round 9, class 3): collect_list SKIPS NULL prices —
    # which happens to match quantile_cont's null-ignore — but a frame
    # of ONLY NULL prices collapses to an empty array and element_at(_,0)
    # is INVALID_INDEX_OF_ZERO under ANSI.  The median of no values is
    # NULL on both engines (DuckDB already returns NULL there).
    med5 = F.when(n > 0, F.round((lo + hi) / 2, 4))
    return (
        o.filter(F.col("o_custkey") % 17 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            med5.alias("med5"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_CUMDIST_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER (
              PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS distinct_types_so_far
FROM flagged
WHERE user_id % 29 = 0
ORDER BY user_id, event_id
"""


@register("win_running_distinct", oracle=_CUMDIST_ORACLE, tier="T2")
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user — how many distinct event types
    each user has touched as of each event (the feature-breadth /
    engagement-depth signal).  Neither engine allows COUNT(DISTINCT)
    over a window frame, so it's decomposed into two stacked windows:
    a first-occurrence flag (row_number = 1 over (user, type)) and a
    running sum of flags over (user) — both with unique (ts, event_id)
    sort keys, both bounded-state at any scale (the running sum frame
    carries one long).  The two windows share the user_id partitioning,
    so Spark plans ONE shuffle (the second Window reuses the first's
    distribution; the (user, type) sort is a sort-only re-pass)."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
        )
        .filter(F.col("user_id") % 29 == 0)
        .orderBy("user_id", "event_id")
    )


_IGNORE_NULLS_ORACLE = """
SELECT o_custkey, o_orderkey,
       last_value(urgent_price IGNORE NULLS) OVER w AS last_urgent_price,
       lag(urgent_price IGNORE NULLS) OVER w       AS prev_urgent_price,
       first_value(urgent_price IGNORE NULLS) OVER w AS first_urgent_price
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END
           AS urgent_price
  FROM orders
  WHERE o_custkey < 300
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


@register("win_ignore_nulls", oracle=_IGNORE_NULLS_ORACLE, tier="T2")
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS analytic semantics — carry-forward over a sparse
    column without materializing a gap-filled table: per customer
    (ordered by orderdate, orderkey for a total order), each row sees
    the most recent / previous / first URGENT-priority order price even
    when the current row is not urgent.  This is the sparse-sensor
    pattern (nulls vastly outnumber observations) where RESPECT NULLS
    first/last are useless.  Same one-shuffle cost as any window: state
    per partition is one value per function, streaming over the sorted
    run — scale comes from the o_custkey partitioning, identical to
    win_running_sum.  lag(… IGNORE NULLS) skips BACK past null rows (a
    frame-less scan Spark evaluates with the same offset-window
    machinery); the frame for first/last pins UNBOUNDED
    PRECEDING..CURRENT ROW in both engines because DuckDB's last_value
    default frame differs from Spark's."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    base = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).alias(
            "urgent_price"
        ),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.select(
            "o_custkey",
            "o_orderkey",
            F.last("urgent_price", ignorenulls=True).over(w).alias("last_urgent_price"),
            # F.lag exposes no ignorenulls kwarg (only first/last do) —
            # the SQL form is the public surface for offset functions.
            F.expr(
                "lag(urgent_price) IGNORE NULLS OVER "
                "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
            ).alias("prev_urgent_price"),
            F.first("urgent_price", ignorenulls=True).over(w).alias("first_urgent_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_RANGE_INTERVAL_ORACLE = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(sum({cents_sql("o_totalprice")}) OVER w AS BIGINT)
         AS cents_7d
FROM orders
WHERE o_custkey < 500
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


@register("win_range_interval", oracle=_RANGE_INTERVAL_ORACLE, tier="T2")
def win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-typed RANGE frame: per customer, order count and exact
    cent volume over the trailing 7 DAYS — the frame measured in TIME,
    directly on the timestamp ordering (contrast win_sliding_range,
    which pre-casts to epoch integers).  RANGE frames include all peers
    of the current date, so no tiebreaker is needed for determinism;
    the money sum rides the integer-cent lane because DuckDB evaluates
    window sums with segment trees (different accumulation order).
    Interval frames are what calendar SLAs actually mean — "7 days" ≠
    "604800 seconds" once DST or date-typed data is involved.  Scale:
    one shuffle on o_custkey, in-partition time-ordered streaming
    state, same as every window here."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    o.createOrReplaceTempView("win_ri_orders")
    return spark.sql(
        f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               count(*) OVER w AS n_7d,
               sum({cents_sql("o_totalprice")}) OVER w AS cents_7d
        FROM win_ri_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# Native batch session_window
# ---------------------------------------------------------------------------

_SESSION_NATIVE_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       min(ts)                          AS session_start,
       max(ts) + INTERVAL 30 MINUTE     AS session_end,
       CAST(count(*) AS BIGINT)         AS n_events,
       CAST(sum({cents_sql("value")}) AS BIGINT) AS cents
FROM islands
GROUP BY user_id, sess_id
ORDER BY user_id, session_start
"""


@register("win_session_native", oracle=_SESSION_NATIVE_ORACLE, tier="T2")
def win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH session windows through the engine-native session_window()
    grouping expression (the same operator Structured Streaming uses,
    applied to a static frame): one groupBy(user_id, session_window(ts,
    '30 minutes')) — no lag/island bookkeeping in user code.  The oracle
    derives the sessions from first principles (gaps-and-islands with the
    ≥-gap boundary rule), so the hash match pins the engine's exact merge
    semantics: an event at exactly start+gap does NOT extend the session
    (session ranges are half-open [start, last+gap)).

    Scale shape: session_window is a single hash shuffle on user_id
    followed by a per-key in-memory merge — same cost as the window
    formulation but fused into one operator, and IDENTICAL code batch vs
    streaming, which is the point: backfill and live path share
    semantics by construction."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_col("value"))
            .cast("long")
            .alias("cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "cents",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency
# ---------------------------------------------------------------------------

_CONCUR_ORACLE = """
WITH deltas AS (
  SELECT o_orderpriority AS prio, o_orderdate AS d, 1 AS delta FROM orders
  UNION ALL
  SELECT o_orderpriority, CAST(o_orderdate + INTERVAL 7 DAY AS DATE), -1
  FROM orders
), net AS (
  SELECT prio, d, CAST(sum(delta) AS BIGINT) AS net
  FROM deltas GROUP BY prio, d
), running AS (
  SELECT prio, d,
         sum(net) OVER (PARTITION BY prio ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS conc,
         CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) AS day_off
  FROM net
)
SELECT prio,
       CAST(max(conc) AS BIGINT) AS peak_concurrency,
       max_by(d, conc * 100000 + (99999 - day_off)) AS peak_first_date,
       CAST(count(*) AS BIGINT)  AS n_change_days,
       CAST(sum(conc) AS BIGINT) AS conc_day_sum
FROM running GROUP BY prio ORDER BY prio
"""


@register("win_concurrency_sweep", oracle=_CONCUR_ORACLE, tier="T2")
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap concurrency via the SWEEP-LINE formulation: how
    many orders (each active for a 7-day window) are simultaneously open
    — each interval becomes a +1 delta at its start and a −1 at its end,
    deltas are summed per day, and a running prefix sum over the day
    axis IS the concurrency curve.  Peak day resolves first-max ties
    deterministically through a composite key (conc, earliest day).

    Scale shape: the naive formulation is an interval SELF-join
    (O(n·overlap), quadratic on hot windows); the sweep is two scans +
    one hash agg on (key, day) + one partitioned running-sum window —
    linear, and the window partitions by priority class so no global
    sort exists.  This is the standard way to compute concurrent
    sessions / open connections / active contracts at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    starts = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("d"),
        F.lit(1).alias("delta"),
    )
    ends = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.date_add(F.col("o_orderdate"), 7).alias("d"),
        F.lit(-1).alias("delta"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("prio", "d")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = net.select(
        "prio",
        "d",
        F.sum("net").over(w).alias("conc"),
        F.datediff(F.col("d"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("day_off"),
    )
    return (
        running.groupBy("prio")
        .agg(
            F.max("conc").cast("long").alias("peak_concurrency"),
            F.max_by(
                "d", F.col("conc") * 100000 + (F.lit(99999) - F.col("day_off"))
            ).alias("peak_first_date"),
            F.count(F.lit(1)).alias("n_change_days"),
            F.sum("conc").cast("long").alias("conc_day_sum"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Interval union (merge overlapping intervals, total coverage)
# ---------------------------------------------------------------------------

_IUNION_ORACLE = """
WITH iv AS (
  SELECT o_orderpriority AS prio, o_orderkey AS k, o_orderdate AS s,
         CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS e
  FROM orders
), flagged AS (
  SELECT prio, k, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY prio ORDER BY s, e, k
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              OR max(e) OVER (PARTITION BY prio ORDER BY s, e, k
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT prio, s, e,
         sum(new_island) OVER (PARTITION BY prio ORDER BY s, e, k
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), merged AS (
  SELECT prio, island, min(s) AS ms, max(e) AS me,
         CAST(count(*) AS BIGINT) AS n_src
  FROM islands GROUP BY prio, island
)
SELECT prio,
       CAST(count(*) AS BIGINT) AS n_merged,
       CAST(sum(date_diff('day', ms, me)) AS BIGINT) AS covered_days,
       CAST(max(date_diff('day', ms, me)) AS BIGINT) AS longest_run_days,
       CAST(max(n_src) AS BIGINT) AS biggest_merge
FROM merged GROUP BY prio ORDER BY prio
"""


@register("win_interval_union", oracle=_IUNION_ORACLE, tier="T2")
def win_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION — merge overlapping [orderdate, +7d) windows per
    priority class and measure total covered days — the coverage twin of
    win_concurrency_sweep (that op asks "how many open at once", this
    one "how much of the timeline is touched at all"): an interval
    starts a new island iff its start exceeds the running MAX of all
    previous ends (not lag(e) — an earlier long interval can swallow
    several later ones, the classic gaps-and-islands refinement), then
    islands collapse to (min start, max end).

    Tie discipline (bug caught at sf0.001): duplicate (start, end)
    intervals at an island boundary carry DIFFERENT flags (first opens
    the island, second joins it), and the flag window and the
    island-sum window sort ties INDEPENDENTLY — without a unique key in
    both ORDER BYs the running sum can pick the other order and shift an
    interval into the wrong island.  Every window here orders by
    (s, e, o_orderkey) — the PARITY.md total-order rule.

    Scale shape: one partitioned sort-window for the running max + flag,
    a running sum for island ids, and two hash aggs — linear, no
    self-join, the same sweep discipline as the concurrency op.  SLA
    uptime, sensor coverage, and maintenance-window math at 100 TB are
    exactly this plan."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("s"),
        F.date_add(F.col("o_orderdate"), 7).alias("e"),
    )
    prev = (
        Window.partitionBy("prio")
        .orderBy("s", "e", "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("prio")
        .orderBy("s", "e", "k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.select(
        "prio",
        "k",
        "s",
        "e",
        F.when(
            F.max("e").over(prev).isNull() | (F.col("s") > F.max("e").over(prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(run))
    merged = islands.groupBy("prio", "island").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n_src"),
    )
    return (
        merged.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_merged"),
            F.sum(F.datediff("me", "ms")).cast("long").alias("covered_days"),
            F.max(F.datediff("me", "ms")).cast("long").alias("longest_run_days"),
            F.max("n_src").cast("long").alias("biggest_merge"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Bollinger bands (rolling mean ± 2σ with an exact-integer breakout set)
# ---------------------------------------------------------------------------

_BOLLINGER_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), mom AS (
  SELECT *,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(cents) OVER w AS BIGINT) AS s1,
         sum(CAST(cents AS HUGEINT) * cents) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, cents / 100.0 AS close,
       s1 / (n * 100.0) AS mid,
       CASE WHEN n >= 2 THEN
         s1 / (n * 100.0)
               + 2 * sqrt(CAST(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1
                                    AS VARCHAR) AS DOUBLE)
                          / (n * (n - 1))) / 100.0
       END AS upper,
       CASE WHEN n >= 2 THEN
         s1 / (n * 100.0)
               - 2 * sqrt(CAST(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1
                                    AS VARCHAR) AS DOUBLE)
                          / (n * (n - 1))) / 100.0
       END AS lower,
       CASE WHEN n >= 2 THEN
         CAST(CAST(n * cents - s1 AS HUGEINT) * (n * cents - s1) * (n - 1)
              > 4 * n * (n * s2 - CAST(s1 AS HUGEINT) * s1) AS INT)
       END AS breakout
FROM mom
"""


@register("win_bollinger_bands", oracle=_BOLLINGER_ORACLE, tier="T2")
def win_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on the daily per-type series: trailing 7-day mean
    ± 2 sample standard deviations, plus a breakout flag when the close
    escapes the band — the volatility-envelope window every monitoring
    and finance stack keeps.

    Determinism lane: the band test |x − x̄| > 2σ is cross-multiplied
    and SQUARED into the all-integer inequality
    (n·x − s1)²·(n−1) > 4·n·(n·s2 − s1²), so the breakout SET is
    bit-identical across engines even though σ itself is a float (the
    displayed band edges are sqrt-of-identical-rationals — same double
    on both sides).  The squared terms ride 128-bit accumulators
    (Spark DECIMAL(38,0) / DuckDB HUGEINT, magnitude-v2 contract):
    cents² overflows int64 once any surviving daily total passes ~3e9
    cents, and the cross-product overflows it far earlier.  Documented
    bound: a seven-deep window of near-9e17-cent days would exceed even
    128-bit range — the ingest clamp plus sparse-corruption contract
    (at most a couple of near-bound rows per key) keeps every term
    under ~1e37.  First-row frames (n = 1) yield NULL bands and a
    NULL flag rather than a zero-variance lie.

    Scale shape: one fact-sized daily rollup (grain = types × days),
    then one window shuffle on event_type over that bounded series —
    the window never sees raw events."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents_col("value")).alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    cents_d = F.col("cents").cast("decimal(38,0)")
    mom = daily.select(
        "event_type",
        "day",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s1"),
        F.sum(cents_d * cents_d).over(w).alias("s2"),
    )
    n, x = F.col("n"), F.col("cents")
    # 128-bit exact moment math: every squared/cross term is DECIMAL(38,0)
    # (the oracle mirrors with HUGEINT) — int64 overflows on any
    # surviving large daily total, and a silent float detour would make
    # the breakout set order-dependent.
    s1 = F.col("s1").cast("decimal(38,0)")
    s2 = F.col("s2")
    n_d = n.cast("decimal(38,0)")
    sigma = F.sqrt((n_d * s2 - s1 * s1).cast("double") / (n * (n - 1)))
    has_var = n >= 2
    dev = n_d * x.cast("decimal(38,0)") - s1
    return mom.select(
        "event_type",
        "day",
        (x / 100.0).alias("close"),
        (F.col("s1") / (n * 100.0)).alias("mid"),
        F.when(has_var, F.col("s1") / (n * 100.0) + 2 * sigma / 100.0).alias("upper"),
        F.when(has_var, F.col("s1") / (n * 100.0) - 2 * sigma / 100.0).alias("lower"),
        F.when(
            has_var,
            (dev * dev * (n - 1).cast("decimal(38,0)")
             > 4 * n_d * (n_d * s2 - s1 * s1)).cast("int"),
        ).alias("breakout"),
    )

"""Join operators (SURVEY.md §2.C).

Scale strategy per join:
- Fact⋈fact equi-joins shuffle on the key (sort-merge or shuffled-hash,
  chosen by Catalyst/AQE); we never force a fact onto a build side.
- Dimension joins broadcast: region/nation are fixed-cardinality (5/25
  rows at EVERY scale factor) so `F.broadcast` is pinned explicitly;
  larger dims are left to the autoBroadcastJoinThreshold size gate.
- `join_sort_merge` pins SMJ via the plan-local `.hint("merge")` rather
  than mutating session conf (the driver may collect lazily, after this
  function returns — conf flips would leak across queries).
- The as-of join has no native Spark operator: expressed as equi-join on
  the user key + range predicate + `max_by` per event, which keeps it a
  shuffle-hash join + hash agg (no window sort over the full fact).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import ckpt, conf_scope, scratch_dir
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    cents_sum,
    latest_event,
    latest_event_sql,
    load_table,
)

_INNER_ORACLE = """
SELECT o.o_orderstatus,
       count(*) AS n,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""


@register("join_inner_equi", oracle=_INNER_ORACLE, tier="T0")
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders on orderkey → revenue per orderstatus."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )


_STAR_ORACLE = """
SELECT n.n_name, ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("join_broadcast_dim", oracle=_STAR_ORACLE, tier="T1")
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join (TPC-H Q5 shape), revenue by nation for ASIA.

    region/nation are broadcast-pinned (≤25 rows at any SF); the
    region filter is applied before the broadcast so the build side is
    pre-pruned, which in turn prunes nations, suppliers and the fact rows
    at probe time.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = F.broadcast(
        s.join(
            F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
            s.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(dim, li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


_SMJ_ORACLE = """
SELECT o.o_orderstatus,
       count(*) AS n,
       ROUND(sum(l.l_quantity), 4) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""


@register("join_sort_merge", oracle=_SMJ_ORACLE, tier="T1")
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same equi-join forced down the sort-merge path via a plan-local
    merge hint — the fact⋈fact strategy at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


_LEFT_ORACLE = """
SELECT c.c_custkey,
       count(o.o_orderkey) AS n_orders,
       ROUND(sum(coalesce(o.o_totalprice, 0)), 4) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


@register("join_left_outer", oracle=_LEFT_ORACLE, tier="T1")
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer LEFT JOIN orders; customers without orders keep a row
    (n_orders = 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 4).alias(
                "total_spend"
            ),
        )
    )


_FULL_ORACLE = """
SELECT s.s_suppkey, c.c_custkey,
       coalesce(s.s_nationkey, c.c_nationkey) AS nk
FROM supplier s FULL OUTER JOIN customer c ON s.s_nationkey = c.c_nationkey
"""


@register("join_full_outer", oracle=_FULL_ORACLE, tier="T1")
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier FULL OUTER customer on nationkey (many-to-many; unmatched
    sides survive with nulls)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return s.join(c, s.s_nationkey == c.c_nationkey, "full").select(
        "s_suppkey",
        "c_custkey",
        F.coalesce(F.col("s_nationkey"), F.col("c_nationkey")).alias("nk"),
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@register("join_left_semi", oracle=_SEMI_ORACLE, tier="T1")
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 finished order — semi join never duplicates
    the left side and only ships the join key of the right."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("join_left_anti", oracle=_ANTI_ORACLE, tier="T1")
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_CROSS_ORACLE = """
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
"""


@register("join_cross", oracle=_CROSS_ORACLE, tier="T1")
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region × nation (5×25) — the only place a cartesian product is
    acceptable: both sides fixed-cardinality."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


_THETA_ORACLE = """
SELECT l.l_returnflag, count(*) AS n, ROUND(sum(l.l_quantity), 4) AS sum_qty
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_returnflag
"""


@register("join_theta_range", oracle=_THETA_ORACLE, tier="T2")
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with a range residual: lineitems shipped within 90 days
    of their order date.  Catalyst extracts the equality for the hash/SMJ
    key and applies the date range as a post-join filter, so this costs
    the same shuffle as the plain equi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(o, cond)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


_ASOF_ORACLE = f"""
SELECT e.event_id, o.o_orderdate AS asof_date
FROM {latest_event_sql()} e ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
"""


@register("join_asof", oracle=_ASOF_ORACLE, tier="T2")
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order date of the same user
    at or before the event time (NULL when none).

    Spark has no native ASOF operator; this formulation is equi-join on
    the user key + range residual + max() per event — a hash join feeding
    a hash aggregate, with no per-user window sort.  The output column
    (the as-of *date*) is deterministic even when several orders share
    the winning date, which keeps the DuckDB `ASOF LEFT JOIN` oracle
    (tie choice arbitrary) hashable.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 4): the
    output is keyed per event_id (the groupBy grain), so a replayed
    event_id must resolve to ONE probe row on both sides — DuckDB's
    row-grained ASOF would otherwise emit one row per duplicate (probed:
    1000 vs 1100 rows).  tables.latest_event picks the deterministic
    winner, oracle-mirrored."""
    e = latest_event(load_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "user_id"
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts), "left")
    return j.groupBy("event_id").agg(F.max("o_orderdate").alias("asof_date"))


_INTERVAL_ORACLE = """
SELECT o.o_orderkey, count(*) AS n_ship
FROM orders o JOIN lineitem l
  ON l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL 7 DAY
GROUP BY o.o_orderkey
"""


@register("join_interval", oracle=_INTERVAL_ORACLE, tier="T2")
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi-key: shipments (any order's) falling in
    each order's [orderdate, orderdate+7d) week.

    A naive formulation is a cartesian nested-loop.  Instead the interval
    is discretized: each order explodes into the 7 day-buckets it covers
    and the join becomes an equi-join on the bucket + exact residual
    filter — the standard scalable range-join pattern (shuffle on day,
    parallel everywhere, no broadcast of a fact).

    Second scale lever (measured: 142 s → ~2 s at sf0.1): the count-only
    aggregate means the per-pair join output never needs to exist.  The
    RESULT size is Σ shipments-in-week per order — quadratic in scale
    factor — so lineitem is pre-aggregated to (exact l_shipdate, cnt)
    BEFORE the join (collapsing identical timestamps loses nothing; the
    exact residual filter still runs on the collapsed timestamp), and the
    weekly count is a SUM of the per-date counts.  The join then touches
    orders×7 ⋈ distinct-shipdates rows instead of orders×shipments
    pairs: linear in each input, exact for any timestamp distribution."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_buckets = o.select(
        "o_orderkey",
        "o_orderdate",
        F.explode(
            F.sequence(
                F.to_date("o_orderdate"), F.date_add(F.to_date("o_orderdate"), 6)
            )
        ).alias("day"),
    )
    ship_counts = (
        li.groupBy("l_shipdate")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("day", F.to_date("l_shipdate"))
    )
    return (
        ship_counts.join(o_buckets, "day")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(F.sum("cnt").cast("long").alias("n_ship"))
    )


# ---------------------------------------------------------------------------
# Semi-join reduction (bloom-filter-style fact prefilter)
# ---------------------------------------------------------------------------

_PREFILTER_ORACLE = f"""
SELECT n.n_name,
       count(*) AS n_items,
       ROUND(sum({cents_sql("l.l_extendedprice")}
               * (100 - {cents_sql("l.l_discount")})) / 10000.0, 4)
         AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-01-01'
GROUP BY n.n_name
"""


@register("join_prefilter_semi", oracle=_PREFILTER_ORACLE, tier="T2")
def join_prefilter_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: before the wide fact⋈fact join, the fact
    table is cut down with LEFT SEMI joins against the (already filtered)
    key sets — the manual form of the bloom-filter/DPP runtime filters a
    warehouse engine injects.  Result is EXACTLY the plain star-join
    (semi filters have no false positives here), which is what the
    oracle asserts.

    Scale shape: customer keys for one region (~1/5 of customers) semi-
    filter orders; surviving order keys semi-filter lineitem BEFORE its
    shuffle — the biggest table shuffles only matching rows instead of
    everything (at 100 TB this is the difference between shuffling 4 TB
    and 100 TB).  The final joins then run on pre-shrunk inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")

    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    asia_cust = c.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "n_name")

    o_filt = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).join(
        F.broadcast(asia_cust.select("c_custkey")),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    # the reduction step: lineitem never shuffles non-matching rows
    li_filt = li.join(
        F.broadcast(o_filt.select("o_orderkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )

    price_c = cents_col("l_extendedprice")
    disc_c = cents_col("l_discount")
    return (
        li_filt.join(o_filt, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(price_c * (100 - disc_c)) / 10000.0, 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Null-safe equality join
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS pri,
         o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
), b AS (
  SELECT DISTINCT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                       ELSE o_orderpriority END AS pri
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT coalesce(a.pri, '<null>') AS pri,
       count(*) AS n,
       ROUND(sum({cents_sql("a.o_totalprice")}) / 100.0, 4) AS total
FROM a JOIN b ON a.pri IS NOT DISTINCT FROM b.pri
GROUP BY coalesce(a.pri, '<null>')
"""


@register("join_null_safe_eq", oracle=_NULLSAFE_ORACLE, tier="T2")
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics a dimension
    join needs when 'unknown' is itself a valid bucket.  A deterministic
    slice of order priorities is nulled to exercise it.

    Scale shape: `<=>` stays a hash-joinable equi-condition in Catalyst
    (null-safe keys hash like any value) — same shuffle/broadcast
    strategies as `=`, unlike an OR-of-IS-NULL rewrite which would
    degrade to nested-loop."""
    o = load_table(spark, sf_dir, "orders")
    pri = F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("o_orderpriority")
    )
    a = o.filter(F.col("o_orderkey") % 7 == 0).select(
        pri.alias("pri_a"), "o_totalprice"
    )
    b = (
        o.filter(F.col("o_orderkey") % 11 == 0)
        .select(pri.alias("pri_b"))
        .distinct()
    )
    price_c = cents_col("o_totalprice")
    return (
        a.join(F.broadcast(b), a.pri_a.eqNullSafe(b.pri_b))
        .groupBy(F.coalesce("pri_a", F.lit("<null>")).alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(price_c) / 100.0, 4).alias("total"),
        )
    )


_DPP_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total_value
FROM events
WHERE isodow(ts) <= 2
GROUP BY event_type
ORDER BY event_type
"""


@register("join_dpp_partitioned", oracle=_DPP_ORACLE, tier="T2")
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is a hive-partitioned
    events lake (partitioned by event_date), the dim side is a small
    filtered date dimension (Mondays+Tuesdays), and the join key IS the
    partition column — so Catalyst injects a dynamicpruningexpression
    subquery into the fact scan's PartitionFilters (plan-asserted in
    tests/test_plan_shapes.py) and the fact read skips every partition
    the dim filter eliminates AT RUNTIME, before static planning could
    know the surviving dates.  This is the flagship 100 TB star-schema
    mechanism: a WHERE on the dim table prunes fact I/O by ~5/7 here,
    by arbitrary dim selectivity in production.  The oracle replays the
    semantics (week-day filter) directly on the source table."""
    ev = load_table(spark, sf_dir, "events")
    out = scratch_dir(spark, "udps_dpp_")
    part = ev.withColumn("event_date", F.to_date("ts"))
    part.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # Explicit schema (round 10, R10_EMPTY_PLAN class 1): an empty
    # source writes no data files and inference dies; the writer knows
    # the schema.  Partition discovery (and the DPP PartitionFilters
    # injection this op exists to prove) is unaffected — only footer
    # inference is skipped.
    fact = spark.read.schema(part.schema).parquet(out)
    iso_dow = (F.dayofweek("d") + 5) % 7 + 1
    dim = (
        ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(iso_dow <= 2)
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


_LATERAL_ORACLE = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) l
"""


@register("join_lateral_topn", oracle=_LATERAL_ORACLE, tier="T2")
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: each
    customer's top-3 orders by value, written exactly the way a SQL
    user migrating from a lateral-join dialect writes it.  Semantically
    identical to win_topk_per_group's rank-filter formulation — that op
    is the explicit plan, this one proves the SQL surface parses and
    optimizes (Catalyst decorrelates the lateral into a join +
    per-group limit rather than re-executing the subquery per outer
    row).  Customers with no orders drop out, per inner-join lateral
    semantics; the (price DESC, orderkey) order makes the top-3 set
    unique."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("lat_customer")
    o.createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 3
        ) l
        """
    )


_ASOF_BUCKETED_ORACLE = """
SELECT e.event_id, o.o_orderdate AS asof_date
FROM events e ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
"""


@register("join_asof_bucketed", oracle=_ASOF_BUCKETED_ORACLE, tier="T2")
def join_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed as-of join — the fact×fact scale path that
    ``join_asof`` (equi-join + full range residual) cannot take at 100×
    (SCALING.md noted this as the open item; VERDICT.md round 4 flagged
    it).

    The plain formulation joins every event to EVERY past order of the
    same user before aggregating — per-event fan-out grows with order
    history, unbounded.  Bucketing by calendar month caps it: a
    candidate for event e at time ts is either (a) an order in e's own
    month at or before ts, or (b) the latest order of any strictly
    earlier month.  (a) joins on (user, month) — fan-out ≤ orders per
    user-month; (b) joins the pre-aggregated per-(user, month) max-date
    relation — fan-out ≤ active months per user, calendar-bounded.
    Both are plain shuffle equi-joins; the union aggregates with one
    hash agg per event.  The oracle is DuckDB's native ASOF LEFT JOIN,
    so the hash-match proves the decomposition exact, including events
    with no prior order (NULL)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", F.date_trunc("month", "ts").alias("e_month")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.date_trunc("month", "o_orderdate").alias("o_month"),
    )
    # (a) same-month candidates, exact residual on the timestamp
    same = (
        e.join(
            o,
            (e.user_id == o.o_custkey)
            & (e.e_month == o.o_month)
            & (o.o_orderdate <= e.ts),
        )
        .groupBy("event_id")
        .agg(F.max("o_orderdate").alias("cand"))
    )
    # (b) latest order per (user, earlier month) — pre-aggregated, so the
    # join fan-out is bounded by the calendar, not by order volume
    per_um = o.groupBy("o_custkey", "o_month").agg(
        F.max("o_orderdate").alias("mmax")
    )
    prior = (
        e.join(
            per_um,
            (e.user_id == per_um.o_custkey) & (per_um.o_month < e.e_month),
        )
        .groupBy("event_id")
        .agg(F.max("mmax").alias("cand"))
    )
    best = same.unionByName(prior).groupBy("event_id").agg(
        F.max("cand").alias("asof_date")
    )
    return e.select("event_id").join(best, "event_id", "left").select(
        "event_id", "asof_date"
    )


_RUNTIME_BLOOM_ORACLE = """
SELECT l.l_returnflag, count(*) AS n,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@register("join_runtime_bloom", oracle=_RUNTIME_BLOOM_ORACLE, tier="T2")
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join accelerated by Catalyst's runtime Bloom-filter
    injection (InjectRuntimeFilter): the selective build side
    (urgent-priority orders) publishes a `bloom_filter_agg` of its join
    keys, and the probe-side lineitem scan applies `might_contain`
    BEFORE the shuffle — ~4/5 of probe rows never cross the wire.  This
    is the 100 TB play for selective fact⋈fact joins where neither side
    broadcasts.  Bloom false positives cost nothing: survivors still
    pass the exact hash join, so the result is identical to the plain
    join (the oracle).  The filter only exists under the runtime-filter
    confs, which are plan-time state — the joined aggregate (≤3 rows) is
    frozen via an eager session.ckpt while they are set, then the
    session confs are restored (a lazily-collected plan would otherwise
    optimize AFTER the conf_scope block, silently dropping the bloom path —
    the same leak ``join_sort_merge`` avoids with a plan-local hint).
    tests/test_plan_shapes.py asserts bloom_filter_agg appears in the
    executed plan."""
    # Force the shuffle-join regime the filter exists for (at test scale
    # Catalyst would otherwise just broadcast the build side), and drop
    # the size gates that assume cluster-sized inputs.
    with conf_scope(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        },
    ):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
        )
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue"),
            )
            .orderBy("l_returnflag")
            .transform(ckpt(eager=True))
        )
    return out


# ---------------------------------------------------------------------------
# Forward / nearest as-of join
# ---------------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH j AS (
  SELECT e.event_id, e.ts,
         max(CASE WHEN o.o_orderdate <= e.ts THEN o.o_orderdate END)
           AS prev_date,
         min(CASE WHEN o.o_orderdate >  e.ts THEN o.o_orderdate END)
           AS next_date
  FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey
  GROUP BY e.event_id, e.ts
)
SELECT event_id, prev_date, next_date,
       CASE WHEN prev_date IS NULL THEN next_date
            WHEN next_date IS NULL THEN prev_date
            WHEN epoch_us(ts) - epoch_us(CAST(prev_date AS TIMESTAMP))
                 <= epoch_us(CAST(next_date AS TIMESTAMP)) - epoch_us(ts)
            THEN prev_date ELSE next_date END AS nearest_date
FROM j
"""


@register("join_asof_forward", oracle=_ASOF_FWD_ORACLE, tier="T2")
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward and NEAREST as-of joins — the two directions pandas'
    merge_asof offers beyond the default backward match that join_asof
    covers: for each event, the first same-user order strictly AFTER the
    event (forward) and whichever of backward/forward is temporally
    closer (nearest; ties break to the earlier date via <= on exact
    integer microsecond distances, so the winner is bit-deterministic).

    Formulation: ONE equi-join on the user key + conditional min/max
    aggregation — both directions computed in the same hash-join +
    hash-agg pass, no window sort, no second scan.  The oracle replays
    the definition from first principles (DuckDB's native ASOF only
    walks backward).

    Scale shape: identical to join_asof — shuffle on user_id only; at a
    fact×fact scale where per-user order history is huge, the same
    month-bucket pre-aggregation as join_asof_bucketed applies to BOTH
    directions (max-per-earlier-bucket / min-per-later-bucket)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    j = e.join(o, e.user_id == o.o_custkey, "left")
    agg = j.groupBy("event_id", "ts").agg(
        F.max(
            F.when(F.col("o_orderdate") <= F.col("ts"), F.col("o_orderdate"))
        ).alias("prev_date"),
        F.min(
            F.when(F.col("o_orderdate") > F.col("ts"), F.col("o_orderdate"))
        ).alias("next_date"),
    )
    us = F.unix_micros
    back_gap = us(F.col("ts")) - us(F.col("prev_date").cast("timestamp"))
    fwd_gap = us(F.col("next_date").cast("timestamp")) - us(F.col("ts"))
    return agg.select(
        "event_id",
        "prev_date",
        "next_date",
        F.when(F.col("prev_date").isNull(), F.col("next_date"))
        .when(F.col("next_date").isNull(), F.col("prev_date"))
        .when(back_gap <= fwd_gap, F.col("prev_date"))
        .otherwise(F.col("next_date"))
        .alias("nearest_date"),
    )


# ---------------------------------------------------------------------------
# Point-in-time join against an SCD2 dimension
# ---------------------------------------------------------------------------

_SCD2_PIT_ORACLE = f"""
WITH dim AS (
  SELECT c_custkey AS key, c_mktsegment AS segment,
         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 10 = 0
              THEN TIMESTAMP '2024-01-15 00:00:00' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'PROMOTED',
         TIMESTAMP '2024-01-15 00:00:00', NULL
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT d.segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({cents_sql("e.value")}) AS BIGINT) AS cents,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN dim d
  ON e.user_id = d.key
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY d.segment ORDER BY d.segment
"""


@register("join_scd2_pointintime", oracle=_SCD2_PIT_ORACLE, tier="T2")
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join of facts against an SCD2 dimension — the
    query side of slowly-changing dimensions: each event joins the
    dimension VERSION that was valid at the event's timestamp, so facts
    before the 2024-01-15 re-segmentation report the old segment and
    facts after it report PROMOTED (the etl_scd2_snapshot maintenance
    op builds such versions; this op consumes them — every 10th
    customer has two versions, built identically on both engines).

    Scale shape: an equi-join on the business key carrying the validity
    range as a residual predicate — Catalyst plans a plain hash join on
    user_id and evaluates the range post-probe, so this costs exactly
    one fact-table shuffle (zero if the fact is bucketed on the key).
    Never a BETWEEN-only theta join: the key equality is what keeps it
    off the nested-loop path.  Late-arriving facts are handled for free
    — their older ts simply matches an older version."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    v_from = F.lit("2024-01-01 00:00:00").cast("timestamp")
    v_cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    v1 = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        v_from.alias("valid_from"),
        F.when(F.col("c_custkey") % 10 == 0, v_cut).alias("valid_to"),
    )
    v2 = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.lit("PROMOTED").alias("segment"),
            v_cut.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    dim = v1.unionByName(v2)
    cond = (
        (e.user_id == dim.key)
        & (e.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (e.ts < dim.valid_to))
    )
    return (
        e.join(dim, cond)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_col("value"))
            .cast("long")
            .alias("cents"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("segment")
    )


_SHJ_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("join_shuffle_hash", oracle=_SHJ_ORACLE, tier="T2")
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled hash join — the third physical join strategy, completing
    the matrix next to join_broadcast_dim (BroadcastHashJoin) and
    join_sort_merge (SortMergeJoin): both sides shuffle on the key, the
    smaller side builds an in-memory hash table PER PARTITION, the
    larger streams against it.  Forced via the SHUFFLE_HASH hint
    (Spark honors it when the per-partition build side fits).

    When it wins at 100 TB: fact-to-mid-size-dim joins where the build
    side is too big to broadcast but small enough per partition —
    shuffled hash skips BOTH sort passes that sort-merge pays, and
    unlike broadcast it never materializes the dim on every executor.
    The risk knob is build-side skew (one hot key's partition must fit
    in memory) — mitigated by AQE skew splitting or join_skew_salted's
    salting.

    The hint targets the ORDERS side (the smaller relation here);
    tests/test_plan_shapes.py asserts the physical plan actually
    contains ShuffledHashJoin, not a silent fallback."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(cents_col(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )

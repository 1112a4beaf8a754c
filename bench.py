"""Benchmark harness: the 12 headline queries of BASELINE.md at sf0.1.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "duckdb_total": sec, "duckdb_queries": {...}, "ratio_same_run": x}

Method mirrors BASELINE.md: one long-lived local[N] session, one warm-up
execution per query (JIT/codegen/broadcast warm), then best-of-5 timed
runs of `collect()`.  Query shapes are the BASELINE.md §SQL-1..12 texts.

Round-12 change (optimization round; see OPTIMIZATION_r12.md): four
queries were rewritten result-identically — limit-through-window
threshold pushdowns (running_sum_window, topk_per_group_window), a
two-level rollup (rollup_agg), and a REPARTITION ahead of the JSON
parse (events_json_extract) — and maxPartitionBytes moved 1m → 4m
(single-row-group files cannot split; 1 MB only dispatched empty
tasks).  Every rewrite is verified row-for-row against the original
text (tools/exp*_r12.py); methodology and output format unchanged.

Round-13 change (VERDICT r12 item 1 — restore comparability): the
DUCKDB_SQL side now runs THE SAME four rewritten shapes (threshold
subqueries, two-level rollup, subquery ahead of the JSON parse), so
``ratio_same_run`` again compares equal work on both engines.  The
four BASELINE.md §SQL contract shapes are STILL measured every run —
on both engines, unjudged — and reported under ``contract_shapes``,
so full-table window/rollup execution stays covered (ADVICE r12).
Equivalence of the mirrored DuckDB texts was verified row-for-row at
sf0.001/0.01/0.1 for three of the four; running_sum_window's window
order (l_orderkey, l_linenumber) is NOT unique, and the ORIGINAL
DuckDB text is not even self-stable (two runs of the identical text
return different tie-dependent running sums — measured), so for that
query the verified bar is: identical key sequence, values differing
only within window-peer tie order, on both texts (script:
``git show 851bd3a:tools/exp_r13.py``).

Round-13 change (VERDICT r12 item 2 — scale-adaptive posture): the
local-mode session twiddles (AQE off, REDUCE_WIDTH, 4 MB splits) are
now SF-GATED on the input directory size: below ~256 MB of input the
bench keeps the measured-local posture, above it every override is
dropped (AQE on per the session factory, env/default shuffle width,
default maxPartitionBytes) so a real-scale run measures the scalable
configuration.  At sf0.1 (17 MB, single-row-group files: every scan
is structurally ONE task) core-count scaling is floor-bound by
construction — the measured floor analysis is committed at
plans/r13/scaling_floor.md.

Round-6 change (drift-immunity): BASELINE.md's published totals were
captured on a different box state and no longer reproduce — the same 12
DuckDB texts measured 0.724 s this round vs the published 2.855 s (the
two "heavy" queries collapse: running_sum 1.106 → ~0.07 s, cosine_topk
1.120 → ~0.21 s).  Any ratio against the *published* numbers therefore
inherits ~4× of ambient drift.  So this harness now ALSO runs the 12
BASELINE.md SQL texts verbatim through DuckDB in the SAME process,
INTERLEAVED with the Spark reps (one DuckDB pass per Spark pass, warm
minima on both sides — a tail-end DuckDB leg sampled a different
minute of box drift than the 2-minute Spark leg and swung the ratio
4.9-6.4 on an identical HEAD), and emits
``duckdb_total`` + ``ratio_same_run`` — the ratio to judge and optimize,
immune to box drift by construction.

Round-5 change: queries are expressed as `spark.sql()` text instead of
chained DataFrame calls.  The Catalyst plan is identical, but plan
CONSTRUCTION moves JVM-side: a DataFrame chain pays one py4j round trip
per expression (~40-130 ms/query measured), SQL parses in ~20 ms after
one socket hop.  The DuckDB baseline's `con.execute(sql)` also includes
parse+plan time against pre-registered views, so registering temp views
once per session (catalog setup, `_ensure_views`) and timing parse +
plan + execute is the apples-to-apples measurement.  The registry twins
of these queries (operators/*.py) keep their DataFrame form — this file
measures speed; correctness parity lives in the registry.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.session import get_spark
from un_datapipeline_spark.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_VIEW_TABLES = (
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "nation",
    "region",
    "events",
    "documents",
)

_views_registered: set[tuple[str, str]] = set()


def _ensure_views(spark: SparkSession, d: str) -> None:
    """Register the testdata tables as temp views once per (session, dir).

    One-time catalog setup, the same footing as BASELINE.md's DuckDB
    views (`CREATE VIEW t AS SELECT * FROM read_parquet(...)` before any
    timing).  Goes through load_table so events.ts normalization and the
    analyzed-relation cache apply."""
    key = (spark.sparkContext.applicationId, d)
    if key in _views_registered:
        return
    for t in _VIEW_TABLES:
        load_table(spark, d, t).createOrReplaceTempView(t)
    _views_registered.add(key)


def _sql(sql: str):
    def run(spark: SparkSession, d: str) -> DataFrame:
        _ensure_views(spark, d)
        return spark.sql(sql)

    return run


q1_pricing_summary = _sql("""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                       AS sum_qty,
       sum(l_extendedprice)                                  AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity)                                       AS avg_qty,
       avg(l_extendedprice)                                  AS avg_price,
       avg(l_discount)                                       AS avg_disc,
       count(1)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp'2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")


# Size-safe plan (round-3 verdict item 3): no fact table is ever forced
# onto a broadcast build side; both filters' selectivities are
# data-dependent, so the build-side choice is left to Catalyst's size
# estimates — the plan that still works when orders is 100× bigger.
# Catalyst prunes each scan to keys + agg inputs from the projection.
q3_shipping_priority = _sql("""
SELECT o_orderkey,
       sum(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate, o_orderpriority
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp'1998-01-01'
  AND l_shipdate  > timestamp'1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate
LIMIT 10
""")


# Size-safe star join (round-3 verdict item 2): ONLY the bounded dim
# chain region⋈nation⋈supplier is broadcast — pre-filtered to ASIA and
# projected to (s_suppkey, n_name) before the hint.  The fact tables
# (lineitem, orders, customer) are never on a build side; lineitem is
# pruned by the selective dim FIRST, then the surviving facts
# shuffle-join on their keys.
q5_regional_revenue = _sql("""
WITH dim AS (
  SELECT /*+ BROADCAST(s) */ s_suppkey, n_name
  FROM supplier s
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT /*+ BROADCAST(dim) */ n_name,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN dim       ON l_suppkey = dim.s_suppkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
GROUP BY n_name
ORDER BY revenue DESC
""")


# Round-12 limit-through-window pushdown (guide §2.4 "don't compute
# things you throw away"): the final ORDER BY o_custkey, rn LIMIT 100
# can only ever surface custkeys at or below the 100th smallest DISTINCT
# o_custkey — every custkey contributes at least one row (rn=1), so >=100
# rows from smaller custkeys precede any row of a later custkey.  The
# threshold pre-filter keeps EVERY row of each surviving custkey, so each
# window partition is complete and row_number assignment inside it is
# unchanged (verified row-for-row identical vs the unfiltered text at
# sf0.1, `git show 851bd3a:tools/exp_r12.py`).  Plan: full 150k-row
# single-task sort + WindowGroupLimit -> a TakeOrdered threshold probe +
# a ~1k-row window.
topk_per_group_window = _sql("""
WITH ck AS (SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 100)
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
  FROM orders
  WHERE o_custkey <= (SELECT max(o_custkey) FROM ck)
)
WHERE rn <= 3
ORDER BY o_custkey, rn
LIMIT 100
""")


# Round-12 limit-through-window pushdown, full-group form: the top-100
# rows under ORDER BY (l_orderkey, l_linenumber) all carry one of the 100
# smallest l_orderkey values (counting multiplicity), so filtering to
# l_orderkey <= that threshold keeps EVERY row of every candidate order —
# each window partition stays complete, the running sum accumulates the
# identical row sequence, and the final TakeOrdered picks the identical
# 100 rows.  NOTE (l_orderkey, l_linenumber) is NOT unique in this corpus
# (118k dup pairs), so an exact-100 pre-limit would pick different tied
# rows; the orderkey-threshold form is the tie-safe one — verified
# bitwise-identical to the unfiltered text at widths 1 and 8
# (`git show 851bd3a:tools/exp2_r12.py`).  Plan: 600k-row shuffle + full
# window -> one TakeOrdered threshold probe + a ~400-row window.
running_sum_window = _sql("""
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey <= (
    SELECT max(l_orderkey)
    FROM (SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 100)
  )
)
SELECT l_orderkey, l_linenumber,
       sum(l_extendedprice) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_rev
FROM t
ORDER BY l_orderkey, l_linenumber
LIMIT 100
""")


# Round-12 two-level rollup (guide §2.3 "aggregate before you shuffle"):
# GROUP BY ROLLUP expands every input row 3x (one copy per grouping set)
# BEFORE the partial aggregate — 600k rows become 1.8M aggregate inputs.
# Aggregating to the (flag, status) grain first (~6 rows) and rolling up
# THAT is the standard decomposition; sums stay bitwise-identical because
# l_quantity is integer-valued (max 50, total 1.5e7 << 2^53: every
# partial in either order is an exact integer-valued double).  Verified
# row-for-row identical at sf0.1 (`git show 851bd3a:tools/exp3_r12.py`).
# At 100 TB this is also the right shape: the rollup's Expand never sees
# the fact table.
rollup_agg = _sql("""
SELECT l_returnflag, l_linestatus, sum(sq) AS sq
FROM (SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq
      FROM lineitem GROUP BY l_returnflag, l_linestatus)
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
""")


events_tumbling_1h = _sql("""
SELECT date_trunc('hour', ts) AS win_start, event_type,
       count(1) AS n, sum(value) AS total
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY win_start, event_type
LIMIT 200
""")


# VARIANT (binary semi-structured encoding) beats both schema-declared
# from_json and JsonPath get_json_object: measured best-of-5 at sf0.1
# variant 0.42s / from_json 0.55s / get_json_object 1.12s.  (A regex
# extraction clocks 0.21s but isn't JSON parsing — not used.)
# Round-12: the parse runs inside the partial-aggregate stage, i.e. on
# the SCAN's parallelism — and every testdata parquet file is a single
# row group, so the 100k parse_json calls ran on ONE task while 31 cores
# idled.  A REPARTITION hint moves the parse behind a cheap ~4 MB
# round-robin exchange onto shuffle-width tasks (guide §2.5 "input skew:
# one huge unsplittable file ... repartition immediately after the
# read").  avg over ints is an exact long sum + one division, so the
# result is partition-order-proof under ANY width (verified identical,
# `git show 851bd3a:tools/exp_r12.py`).  The width is the module's
# parameterised shuffle knob, not a constant: a cluster run inherits its
# (high) width, where
# the hint degenerates to one narrow exchange ahead of a scan that
# already parallelizes via row groups.
def _bench_width() -> int:
    """The ONE resolution of the bench's local-posture shuffle width
    (ADVICE r12): pin the test-scale default into the env, then read it.
    Only main() and perfbench call it, before get_spark, so the session
    factory and the REPARTITION hint below see the same value; a cluster
    posture never calls it and keeps its own width."""
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    return int(os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"])


def events_json_extract(spark: SparkSession, d: str) -> DataFrame:
    # Width resolved at plan-build time (each rep rebuilds the SQL text),
    # read without pinning anything: the env knob when main() (local
    # posture) set it, else the session's own width — so a cluster run
    # inherits its (high) width, where the hint degenerates to one narrow
    # exchange ahead of a scan that already parallelizes via row groups.
    width = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    return _sql(f"""
SELECT event_type,
       avg(variant_get(parse_json(props), '$.k', 'int')) AS avg_k
FROM (SELECT /*+ REPARTITION({width}) */ event_type, props FROM events)
GROUP BY event_type
ORDER BY event_type
""")(spark, d)


doc_text_tokens = _sql("""
SELECT lang, count(1) AS docs, avg(n_chars) AS avg_chars,
       sum(size(split(text, ' '))) AS total_tokens
FROM documents
GROUP BY lang
ORDER BY lang
""")


def embeddings_cosine_topk(spark, d) -> DataFrame:
    # Stays in DataFrame form: the broadcast-probe matmul runs inside
    # mapInPandas (llm_vectors.cosine_topk) — not expressible as SQL text.
    from un_datapipeline_spark.operators.llm_vectors import cosine_topk

    em = load_table(spark, d, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    return (
        cosine_topk(em, probes, k=1, require_gt=True)
        .select(F.col("a_id").alias("vec_id"), "nn_id", "sim")
        .orderBy("vec_id")
        .limit(100)
    )


dedup_exact = _sql("""
SELECT count(1) AS n, count(DISTINCT md5(text)) AS n_unique
FROM documents
""")


# as-of = join + max_by per event: hash join feeding a hash aggregate
# (no per-event window sort over the expanded join).  The ORDER BY
# event_id LIMIT 100 runs AHEAD of the join — the 100 smallest event_ids
# are decided before any expansion, so the join probes 100 rows instead
# of the whole stream (identical result).
asof_style_join = _sql("""
WITH e AS (
  SELECT event_id, ts, user_id FROM events ORDER BY event_id LIMIT 100
)
SELECT e.event_id, e.ts,
       max_by(o_orderkey, struct(o_orderdate, o_orderkey)) AS o_orderkey
FROM e LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
GROUP BY e.event_id, e.ts
ORDER BY e.event_id
LIMIT 100
""")


# Per-query reduce width (spark.sql.shuffle.partitions at plan time).
# Profiled round 6 (statusTracker job/stage counts + interleaved A/B):
# the nine small-output queries spend their post-scan life on KB-sized
# exchanges, where 8-wide reduce stages are pure dispatch overhead AND
# the final global ORDER BY pays a separate RangePartitioner sampling
# job — at width 1 the sampler is skipped (no bounds needed) and e.g.
# q1 drops from 2 jobs/5 stages to 1 job (interleaved best-of-5:
# 9-query subtotal 3.01 s → 2.68 s).  Scan parallelism is unaffected
# (maxPartitionBytes governs it).  The Arrow matmul keeps width 8
# (measured flat 8/16/32).  This is
# test-scale sizing of the same knob the module already tunes globally;
# a cluster run keeps the high default and lets AQE coalesce instead.
# Round-12: the two window queries joined the width-1 group — their
# limit-through-window rewrites shrink the window input to ~1k/~400 rows
# (see the query comments), so an 8-wide reduce is pure dispatch overhead
# there too.  Both rewrites verified width-insensitive bitwise (the
# window partitions are complete per key at any width).
REDUCE_WIDTH = {
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "q5_regional_revenue": 1,
    "topk_per_group_window": 1,
    "running_sum_window": 1,
    "rollup_agg": 1,
    "events_tumbling_1h": 1,
    "events_json_extract": 1,
    "doc_text_tokens": 1,
    "embeddings_cosine_topk": 8,
    "dedup_exact": 1,
    "asof_style_join": 1,
}

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_regional_revenue": q5_regional_revenue,
    "topk_per_group_window": topk_per_group_window,
    "running_sum_window": running_sum_window,
    "rollup_agg": rollup_agg,
    "events_tumbling_1h": events_tumbling_1h,
    "events_json_extract": events_json_extract,
    "doc_text_tokens": doc_text_tokens,
    "embeddings_cosine_topk": embeddings_cosine_topk,
    "dedup_exact": dedup_exact,
    "asof_style_join": asof_style_join,
}


# ---------------------------------------------------------------------------
# Same-run DuckDB baseline.  Round 13: the four queries Spark runs in
# rewritten form (see the query comments above) are mirrored into the
# SAME rewritten shapes here, so every judged pair times the same
# computation on both engines (VERDICT r12 item 1).  The other eight are
# the BASELINE.md §SQL texts verbatim, as before.  The four ORIGINAL
# contract shapes stay measured (both engines, unjudged) via
# CONTRACT_SPARK_SQL / CONTRACT_DUCKDB_SQL below.
# ---------------------------------------------------------------------------

DUCKDB_SQL = {
    "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice*(1-l_discount)) AS sum_disc_price,
       sum(l_extendedprice*(1-l_discount)*(1+l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
       avg(l_discount) AS avg_disc, count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus;
""",
    "q3_shipping_priority": """
SELECT o.o_orderkey, sum(l.l_extendedprice*(1-l.l_discount)) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey=o.o_custkey
                JOIN lineitem l ON l.l_orderkey=o.o_orderkey
WHERE c.c_mktsegment='BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate LIMIT 10;
""",
    "q5_regional_revenue": """
SELECT n.n_name, sum(l.l_extendedprice*(1-l.l_discount)) AS revenue
FROM customer c JOIN orders o   ON c.c_custkey=o.o_custkey
                JOIN lineitem l ON l.l_orderkey=o.o_orderkey
                JOIN supplier s ON l.l_suppkey=s.s_suppkey
                JOIN nation n   ON s.s_nationkey=n.n_nationkey
                JOIN region r   ON n.n_regionkey=r.r_regionkey
WHERE r.r_name='ASIA' GROUP BY n.n_name ORDER BY revenue DESC;
""",
    # Rewritten shape (mirrors the Spark text's threshold pushdown;
    # verified row-identical to the contract shape at all three SFs).
    "topk_per_group_window": """
WITH ck AS (SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 100)
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
  FROM orders
  WHERE o_custkey <= (SELECT max(o_custkey) FROM ck)
)
WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100;
""",
    # Rewritten shape (mirrors the Spark text's orderkey-threshold
    # pushdown).  Identical key sequence; running_rev values can differ
    # within window-peer ties because (l_orderkey, l_linenumber) is not
    # unique — the CONTRACT text itself is not self-stable on DuckDB
    # (measured: two runs of the identical original text return
    # different tie-dependent sums), so tie variance is a property of
    # the query, not of this rewrite.
    "running_sum_window": """
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey <= (
    SELECT max(l_orderkey)
    FROM (SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 100)
  )
)
SELECT l_orderkey, l_linenumber,
       sum(l_extendedprice) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_rev
FROM t
ORDER BY l_orderkey, l_linenumber LIMIT 100;
""",
    # Rewritten shape (mirrors the Spark text's two-level rollup;
    # verified row-identical to the contract shape at all three SFs).
    "rollup_agg": """
SELECT l_returnflag, l_linestatus, sum(sq) AS sq
FROM (SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq
      FROM lineitem GROUP BY l_returnflag, l_linestatus)
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY 1 NULLS FIRST, 2 NULLS FIRST;
""",
    "events_tumbling_1h": """
SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n, sum(value) AS total
FROM events GROUP BY 1,2 ORDER BY 1,2 LIMIT 200;
""",
    # Rewritten shape: the Spark text's REPARTITION hint is a pure
    # distribution annotation with no DuckDB analogue (DuckDB scans are
    # already intra-query parallel); the algebraic rewrite — parse
    # behind a projection subquery — is mirrored (verified row-identical
    # to the contract shape at all three SFs).
    "events_json_extract": """
SELECT event_type, avg(CAST(json_extract(props,'$.k') AS INT)) AS avg_k
FROM (SELECT event_type, props FROM events)
GROUP BY event_type ORDER BY event_type;
""",
    "doc_text_tokens": """
SELECT lang, count(*) AS docs, avg(n_chars) AS avg_chars,
       sum(len(string_split(text,' '))) AS total_tokens
FROM documents GROUP BY lang ORDER BY lang;
""",
    "embeddings_cosine_topk": """
SELECT a.vec_id, b.vec_id AS nn_id,
       list_cosine_similarity(a.embedding, b.embedding) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 100
QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY sim DESC) = 1
ORDER BY a.vec_id LIMIT 100;
""",
    "dedup_exact": """
SELECT count(*) AS n, count(DISTINCT md5(text)) AS n_unique FROM documents;
""",
    "asof_style_join": """
SELECT e.event_id, e.ts, o.o_orderkey
FROM events e ASOF LEFT JOIN orders o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
ORDER BY e.event_id LIMIT 100;
""",
}


# ---------------------------------------------------------------------------
# Contract-shape coverage (ADVICE r12, medium): the four BASELINE.md
# §SQL shapes that the judged queries no longer exercise — full-table
# window sort, full-table rollup Expand, scan-parallel JSON parse — are
# still measured EVERY run on BOTH engines and reported unjudged under
# ``contract_shapes``, so a regression in large-window/rollup execution
# stays visible to BENCH even though the judged totals use the
# rewritten shapes.
# ---------------------------------------------------------------------------

CONTRACT_SPARK_SQL = {
    "topk_per_group_window": """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
  FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100
""",
    "running_sum_window": """
SELECT l_orderkey, l_linenumber,
       sum(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_rev
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
""",
    "rollup_agg": """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY 1 NULLS FIRST, 2 NULLS FIRST
""",
    "events_json_extract": """
SELECT event_type,
       avg(variant_get(parse_json(props), '$.k', 'int')) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
""",
}

CONTRACT_DUCKDB_SQL = {
    "topk_per_group_window": """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
  FROM orders) t
WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100;
""",
    "running_sum_window": """
SELECT l_orderkey, l_linenumber,
       sum(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_rev
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100;
""",
    "rollup_agg": """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY 1 NULLS FIRST, 2 NULLS FIRST;
""",
    "events_json_extract": """
SELECT event_type, avg(CAST(json_extract(props,'$.k') AS INT)) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type;
""",
}

# The contract window shapes feed full-table windows — their measured
# width at test scale is the pre-r12 value (8), not the rewritten
# queries' width-1.
_CONTRACT_WIDTH = {
    "topk_per_group_window": 8,
    "running_sum_window": 8,
    "rollup_agg": 1,
    "events_json_extract": 1,
}


def contract_shapes_pass(spark: SparkSession, con, d: str, local_posture: bool) -> dict:
    """Best-of-3 adjacent bursts of the four contract shapes on both
    engines (warmed by one untimed pass).  Unjudged coverage numbers."""
    sp: dict[str, float] = {}
    du: dict[str, float] = {}
    for name, sql in CONTRACT_SPARK_SQL.items():
        if local_posture:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(_CONTRACT_WIDTH[name])
            )
        _ensure_views(spark, d)
        spark.sql(sql).collect()  # warm
        for _ in range(3):
            t0 = time.perf_counter()
            spark.sql(sql).collect()
            sp[name] = min(sp.get(name, float("inf")), time.perf_counter() - t0)
        duck_sql = CONTRACT_DUCKDB_SQL[name]
        duck_rep(con, duck_sql)  # warm
        for _ in range(3):
            du[name] = min(du.get(name, float("inf")), duck_rep(con, duck_sql))
    return {
        "spark": {k: round(v, 4) for k, v in sp.items()},
        "duckdb": {k: round(v, 4) for k, v in du.items()},
    }


def duckdb_connection(d: str):
    """Views over the same parquet files — BASELINE.md's catalog setup
    (the one canonical table list + view setup; don't fork a copy)."""
    from tests.oracle_diff import duck_connect

    return duck_connect(d)


def duck_rep(con, sql: str) -> float:
    """One timed DuckDB execution — the single timing protocol shared by
    the warm pass and the per-query bursts (parse + plan + execute +
    fetchall, the same span the Spark side times)."""
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    return time.perf_counter() - t0


def duckdb_pass(con, best: dict[str, float]) -> None:
    """One timed execution of every BASELINE.md text, folding minima."""
    for name, sql in DUCKDB_SQL.items():
        best[name] = min(best.get(name, float("inf")), duck_rep(con, sql))


def _sf_of(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


def _dir_bytes(d: str) -> float:
    """Bytes of every file under ``d``, at any depth (a hive-partitioned
    or sharded input keeps its data in subdirectories).  ``inf`` when any
    part of the tree cannot be read: an input the probe cannot size
    fails OPEN to the cluster posture, never into the local twiddles."""

    def fail(err: OSError):
        raise err

    try:
        return sum(
            os.path.getsize(os.path.join(root, name))
            for root, _dirs, files in os.walk(d, onerror=fail)
            for name in files
        )
    except OSError:
        return float("inf")


# Below this input size the bench keeps the measured local posture
# (AQE off, per-query reduce widths, 4 MB splits); at or above it every
# local twiddle is dropped so the run measures the scalable
# configuration (session-factory AQE, env/default width, default
# splits).  Env-overridable for explicit control.
_LOCAL_POSTURE_MAX_BYTES = 256 * 1024 * 1024


def _use_local_posture(d: str) -> bool:
    forced = os.environ.get("SPARK_GRAFT_BENCH_POSTURE", "").lower()
    if forced == "local":
        return True
    if forced == "cluster":
        return False
    return _dir_bytes(d) < _LOCAL_POSTURE_MAX_BYTES


def main() -> None:
    local_posture = _use_local_posture(SF_DIR)
    if local_posture:
        # Test-scale shuffle sizing (measured: 8 partitions → 5.0s total
        # vs 12.1s at 32 on the 17 MB sf0.1 set; 4 vs 8 is within noise —
        # interleaved best-of-7 measured ±2%; still env-overridable).  On
        # a real cluster leave the default high and let AQE coalesce.
        _bench_width()
    spark = get_spark(app_name="un-datapipeline-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    if local_posture:
        # Sub-second queries on MB-scale data: AQE's shuffle-stage
        # re-optimization costs more than it saves (measured 0.35s vs
        # 0.58s per query).  Cluster/100 TB runs keep the factory
        # default (on) — the SF gate above.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # Round-12 re-measurement: every current testdata parquet file is
        # a SINGLE row group (pyarrow default 1M-row groups), so a
        # parquet scan can never split below one task per file — the old
        # 1 MB splits just dispatched ~10 empty tasks per lineitem scan
        # (the one split containing the row-group start does all the
        # work).  Measured q1 best-of-7: 1m 0.246s / 4m 0.223s / 128m
        # 0.227s (`git show 851bd3a:tools/exp_r12.py`).  4m keeps a few
        # splits per file should a future generation ship multiple row
        # groups, without
        # the empty-task overhead.  At real scale the default (or
        # larger) is correct; the SF gate keeps it test-scale-only.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    # Warm passes first (codegen, file listing, broadcasts, JIT), then
    # best-of-7 timed reps — every timed execution runs in a fully
    # warmed JVM.  THREE warm passes, not one (round 7): the warm-curve
    # profile showed the pass total still falling through pass ~5
    # (6.31 → 5.08 → 4.84 s) as the C2 compiler finishes the hot query
    # paths — a single warm pass times a half-JIT'd JVM, a fixed cost
    # that amortizes to nothing at real scale.  BASELINE.md used 1-warm
    # + best-of-3 for DuckDB, whose C++ needs no JIT warm; both estimate
    # the same quantity (the warm minimum).
    # Each rep REBUILDS the plan (re-parse for SQL, re-chain for the
    # DataFrame query): re-collecting a cached plan would let the DAG
    # scheduler skip already-computed shuffle map stages, which times the
    # reduce only — not a query.
    for _ in range(3):
        for name, fn in QUERIES.items():
            if local_posture:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(REDUCE_WIDTH[name])
                )
            fn(spark, SF_DIR).collect()
    # Timing structure (round 7): per-query ADJACENT BURSTS on both
    # engines — for each query, 7 timed Spark reps back-to-back, then 7
    # timed DuckDB reps of the same query's BASELINE.md text immediately
    # after.  This keeps the round-6 drift-immunity (each Spark/DuckDB
    # pair samples the same seconds of box drift — a tail-end DuckDB
    # leg once measured the ratio anywhere from 4.9 to 6.4 on an
    # identical HEAD) at a FINER grain than round 6's full-rotation
    # passes, and it is exactly BASELINE.md's own per-query best-of-N
    # method.  The rotation shape also had a measurement artifact, whose
    # cause was Spark's generated-class cache: one rotated pass of the 12
    # plans generates ~158 classes, more than Spark's default cache of
    # 100, and an LRU cache never hits on a cyclic working set larger
    # than itself.  So every rotated rep recompiled its classes with
    # Janino and ran them without their JIT-compiled code — q1 timed
    # 380-460 ms rotated vs 240-270 ms burst in round 7.  Re-measured in
    # one session on 4 cores at sf0.1: with the default cache, rotated
    # reps compiled ~1,100 classes per 7 passes and q1 took 354-468 ms
    # (min) rotated vs 320-325 ms burst; with the factory's 1000-entry
    # cache (session.FACTORY_CONFS) they compile none, and q1 takes
    # 287-340 ms rotated vs 282-361 ms burst.
    con = duckdb_connection(SF_DIR)
    # Warm pass into a THROWAWAY dict: folding its minima into the
    # judged results would break the per-query drift pairing (a fast
    # warm-pass sample taken minutes before a query's paired burst
    # would survive into duck[] while the Spark number comes from the
    # later, possibly slower window).
    duckdb_pass(con, {})
    duck: dict[str, float] = {}
    times: dict[str, float] = {name: float("inf") for name in QUERIES}
    # THREE full burst blocks, minima folded across blocks (round 11,
    # VERDICT r10 item 5): a single block samples one JVM JIT/GC state
    # and one stretch of box load, and the judged ratio_same_run swung
    # 4.07-4.69 across runs of an identical HEAD.  Repeating the whole
    # per-query adjacent-burst cycle three times inside one process
    # keeps the drift pairing (each Spark burst still sits next to its
    # DuckDB burst) while the cross-block min discards whichever block
    # caught a GC pause or a load spike — the artifact is reproducible
    # without hand-picking an idle-box run.
    for _block in range(3):
        for name, fn in QUERIES.items():
            # Plan-time knob: set before the plan is built (outside the
            # timer — DuckDB's per-view settings are likewise catalog
            # state, not per-execute work).
            if local_posture:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(REDUCE_WIDTH[name])
                )
            for _ in range(7):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).collect()
                times[name] = min(times[name], time.perf_counter() - t0)
            duck_sql = DUCKDB_SQL[name]
            for _ in range(7):
                duck[name] = min(
                    duck.get(name, float("inf")), duck_rep(con, duck_sql)
                )
    # Unjudged contract-shape coverage (runs AFTER the judged blocks so
    # it cannot perturb them; shares the warm session + connection).
    contract = contract_shapes_pass(spark, con, SF_DIR, local_posture)
    con.close()
    times = {name: round(t, 4) for name, t in times.items()}
    duck = {name: round(t, 4) for name, t in duck.items()}
    spark_total = round(sum(times.values()), 4)
    duck_total = round(sum(duck.values()), 4)
    out = {
        "metric": "headline_12q_total",
        "value": spark_total,
        "unit": "sec",
        "queries": times,
        "sf": _sf_of(SF_DIR),
        "duckdb_total": duck_total,
        "duckdb_queries": duck,
        "ratio_same_run": round(spark_total / duck_total, 3) if duck_total else None,
        "contract_shapes": contract,
        # the run describes its own scale: the cores this process may
        # use, the session's default parallelism and the posture chosen
        "cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "posture": "local" if local_posture else "cluster",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

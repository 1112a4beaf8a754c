"""Structured Streaming operators (SURVEY.md §2.A `src_stream_file` + §2.I).

Strategy (SURVEY.md §2.I): every stream reads the `events` parquet as a
file source with an explicit schema, runs with ``trigger(availableNow=
True)`` so it terminates, sinks to memory (or foreachBatch→parquet), and
the FINAL materialized state is compared against a batch-SQL oracle over
the same rows.  Aggregating streams use **complete** output mode — with
availableNow + append mode, trailing windows younger than the watermark
would be withheld and could never match a batch oracle.  Watermark
*drop* semantics (not SQL-expressible in DuckDB) are asserted in
tests/test_streaming_semantics.py with manufactured late micro-batches;
the declared `stream_watermark_late` operator is rows-only.

State hygiene: every run gets a fresh scratch checkpoint dir and a unique
memory-sink name — shared state makes availableNow reruns no-ops
(SURVEY.md §7 hard-part 6).
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import conf_scope, ensure_runtime_confs, scratch_dir
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    load_table,
    read_parquet,
    valid_ts,
    valid_ts_sql,
)


def stream_shuffle_partitions(spark: SparkSession) -> conf_scope:
    """Pin a small shuffle-partition count for the duration of one
    bounded streaming query, restoring the caller's setting after.

    Why: AQE is disabled inside stateful streaming, so every stateful
    stage runs exactly ``spark.sql.shuffle.partitions`` tasks AND creates
    that many state-store instances.  Under a default session (200) each
    availableNow op pays ~200 near-empty state stores × several stages —
    measured as the dominant per-op cost at test scale (~5 s/op, the
    round-1 driver budget killer).  Each operator uses a fresh checkpoint
    so the partition count is free to differ per query.  On a real
    cluster you would size this to the stream's state volume
    (SPARK_GRAFT_STREAM_PARTITIONS, e.g. executors × cores), not to 4.
    """
    n = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")
    return conf_scope(spark, {"spark.sql.shuffle.partitions": n})

# Physical ts dtypes the events generator has shipped so far, the ones
# tables._normalize_events_ts dispatches on: bigint = epoch-ns under
# nanosAsLong (rounds 1-2), timestamp_ntz = parquet timestamp[us] (round
# 3+), timestamp = a tz-adjusted timestamp[us] file (not seen yet, but
# the batch path handles it, so the stream path must too).
_TS_DTYPES = ("bigint", "timestamp_ntz", "timestamp")


def _events_stream_schema(spark: SparkSession, sf_dir: str) -> str:
    """File stream sources need an explicit schema; read the batch
    footer on the driver (tables.read_parquet: one metadata read, no
    Spark job) so the schema tracks whichever physical ts layout the
    generator shipped."""
    raw = dict(read_parquet(spark, f"{sf_dir}/events.parquet").dtypes)
    ts_dtype = raw.get("ts")
    if ts_dtype not in _TS_DTYPES:
        raise ValueError(
            f"events.ts has unsupported parquet dtype {ts_dtype!r}; "
            f"expected one of {_TS_DTYPES} — the generator changed layout "
            "again, extend _TS_DTYPES and tables._normalize_events_ts together"
        )
    phys = "long" if ts_dtype == "bigint" else ts_dtype
    return (
        f"event_id long, ts {phys}, user_id long, event_type string, "
        "value double, props string"
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as a Structured Streaming file source, ts normalized to
    µs timestamps and the non-finite measurement contract applied,
    exactly like the batch loader (tables.load_table): the stream has
    the probed ts dtype, so the batch dispatch applies unchanged."""
    from un_datapipeline_spark.tables import _normalize_events_ts, normalize_events_value

    ensure_runtime_confs(spark)
    schema = _events_stream_schema(spark, sf_dir)
    # File stream sources need a directory; pathGlobFilter narrows the
    # listing to the events table inside the shared sf_dir.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_events_ts(normalize_events_value(raw))


def run_to_memory(df: DataFrame, mode: str = "complete") -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion into a memory
    sink; return the materialized table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with stream_shuffle_partitions(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", scratch_dir(df.sparkSession, "ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.table(name)


_SRC_STREAM_ORACLE = """
SELECT count(*) AS n,
       min(event_id) AS min_id, max(event_id) AS max_id,
       min(CAST(ts AS TIMESTAMP)) AS min_ts,
       max(CAST(ts AS TIMESTAMP)) AS max_ts
FROM events
"""


@register("src_stream_file", oracle=_SRC_STREAM_ORACLE, tier="T4")
def src_stream_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source smoke: stream the whole table through a global
    aggregate; final memory-sink contents ≡ the batch result."""
    s = read_events_stream(spark, sf_dir)
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    return run_to_memory(agg)


_TUMBLING_ORACLE = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
       event_type,
       count(*) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total
FROM events
GROUP BY win_start, event_type
"""


@register("stream_tumbling_window", oracle=_TUMBLING_ORACLE, tier="T4")
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type: count + sum.  window()
    starts align with hour boundaries, so the batch oracle is a plain
    date_trunc group.  The sum rides the exact-cents lane
    (tables.cents_sum — order-independent at any surviving magnitude,
    magnitude-v2 contract)."""
    from un_datapipeline_spark.tables import cents_sum

    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total"),
        )
        .select(F.col("window.start").alias("win_start"), "event_type", "n", "total")
    )
    return run_to_memory(agg)


_SLIDING_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
         + INTERVAL 15 MINUTE * CAST(floor(minute(CAST(ts AS TIMESTAMP)) / 15) AS INT)
         - INTERVAL 15 MINUTE * k AS win_start,
       count(*) AS n
FROM events
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
GROUP BY win_start
"""


@register("stream_sliding_window", oracle=_SLIDING_ORACLE, tier="T4")
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — each event lands in exactly
    4 windows; the oracle materializes those 4 starts per event
    (floor-to-15min minus k·15min, k∈0..3)."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    return run_to_memory(agg)


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
)
SELECT user_id, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
FROM sessions
GROUP BY user_id, sess_id
"""


@register("stream_session_window", oracle=_SESSION_ORACLE, tier="T4")
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user (session_window).  The batch oracle
    is the classic gaps-and-islands rewrite: flag gaps > 30 min, running
    sum as session id.  First/last event times identify each session
    independently of either engine's window-end convention."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n", "first_ts", "last_ts")
    )
    return run_to_memory(agg)


@register("stream_watermark_late", oracle=None, tier="T4")
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling counts under a 10-minute watermark, append mode — only
    windows the watermark has passed are emitted (trailing windows are
    withheld, so no batch oracle exists: rows-only).  The actual
    late-row DROP semantics are asserted with manufactured two-phase
    micro-batches in tests/test_streaming_semantics.py.

    Watermark-poisoning guard (ADVICE r09): like every op maintaining
    monotonic event-time state, one far-future corrupt event would
    advance the watermark past every honest row and silently withhold/
    drop them — so the watermark-class ``valid_ts`` contract applies
    here too, rows-only or not.  Bitwise-neutral on clean feeds."""
    s = read_events_stream(spark, sf_dir).where(valid_ts())
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    return run_to_memory(agg, mode="append")


_DEDUP_ORACLE = f"""
SELECT event_type, count(*) AS n
FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events
      WHERE {valid_ts_sql()} ORDER BY event_id)
GROUP BY event_type
"""


@register("stream_dedup", oracle=_DEDUP_ORACLE, tier="T4")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within a watermark, then counts per
    type.  event_ids are unique in the data, so the oracle is a plain
    distinct — the operator proves the stateful dedup plumbing.

    Watermark-poisoning guard: the watermark is MONOTONIC state — one
    far-future corrupt event advances it past every honest row and the
    stateful dedup silently DROPS them (the ``--timewarp`` sweep
    measured 47 of 210 rows lost to a single 2099 stripe).  ``valid_ts``
    rejects out-of-window event times before they can poison the
    watermark, mirrored in the oracle (tables.py documents the
    contract); bitwise-neutral on clean feeds."""
    s = read_events_stream(spark, sf_dir).where(valid_ts())
    deduped = s.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg)


_RUNNING_ORACLE = f"""
SELECT event_type, count(*) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total
FROM events
GROUP BY event_type
"""


@register("stream_stateful_running", oracle=_RUNNING_ORACLE, tier="T4")
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count+sum per event_type — unbounded keyed state updated
    every micro-batch; final state ≡ the batch aggregate."""
    from un_datapipeline_spark.tables import cents_sum

    s = read_events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (cents_sum() / 100.0).cast("double").alias("total"),
    )
    return run_to_memory(agg)


_STREAM_STATIC_ORACLE = f"""
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("e.value")}) AS BIGINT) / 100.0 AS total
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("stream_static_join", oracle=_STREAM_STATIC_ORACLE, tier="T4")
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joins the static
    customer dim per micro-batch (dim broadcast, re-read each batch —
    the standard slowly-refreshing-dimension pattern), then aggregates
    per segment.  Final state ≡ the batch join.  Exact-cents sum lane
    (tables.cents_sum, magnitude-v2 contract)."""
    from un_datapipeline_spark.tables import cents_sum, load_table

    s = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        s.join(F.broadcast(c), s.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total"),
        )
    )
    return run_to_memory(agg)


_STREAM_STREAM_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases,
       CAST(count(DISTINCT k.event_id) AS BIGINT) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'purchase' AND {valid_ts_sql()}) p
JOIN (SELECT * FROM events WHERE event_type = 'click' AND {valid_ts_sql()}) k
  ON p.user_id = k.user_id
 AND CAST(k.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
 AND CAST(k.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
"""


@register("stream_stream_join", oracle=_STREAM_STREAM_ORACLE, tier="T4")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user clicks
    in the preceding hour.  Both sides carry watermarks; the time-range
    condition bounds join state (clicks older than watermark−1h are
    evicted).  Inner-join emissions over the full data equal the batch
    interval join.

    Watermark-poisoning guard (same class as stream_dedup): both legs'
    watermarks are monotonic, so one far-future corrupt event evicts
    every honest row from the join state (the ``--timewarp`` sweep
    measured 20 of 51 distinct clicks surviving a single 2099 stripe).
    ``valid_ts`` rejects out-of-window event times on both legs,
    mirrored in the oracle (contract: tables.py)."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(valid_ts())
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(valid_ts())
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(F.col("event_id").alias("k_id"), F.col("user_id").alias("k_user"), F.col("ts").alias("k_ts"))
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("k_user"))
        & (F.col("k_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("k_ts") <= F.col("p_ts")),
    )
    pairs = run_to_memory(joined.select("p_id", "k_id"), mode="append")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.countDistinct("k_id").alias("n_clicks"),
    )


_CUSTOM_STATE_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total,
       ROUND(max(value), 4) AS peak
FROM events
GROUP BY event_type
"""


@register("stream_custom_stateful", oracle=_CUSTOM_STATE_ORACLE, tier="T4")
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    event_type, explicit (count, sum, peak) state carried across
    micro-batches in the state store — the escape hatch for stateful
    logic that built-in streaming aggregates can't express.  Each batch
    emits the running totals; the final per-key emission must equal the
    batch aggregate (cumulative columns are monotone, so max-over-
    emissions ≡ last emission even if the source splits into several
    micro-batches)."""
    import pandas as pd_
    from pyspark.sql.streaming.state import GroupStateTimeout

    from un_datapipeline_spark.tables import cents_np

    s = read_events_stream(spark, sf_dir)

    def track(key, pdfs, state):
        # State carries exact integer CENTS, not a float sum: one large
        # surviving |value| makes a float accumulator round at integer
        # granularity and the emission diverges from the exact batch
        # oracle (magnitude-v2 contract).  cents_np's object-dtype sum
        # is arbitrary-precision Python-int arithmetic — immune to
        # silent int64 wrap no matter how adversarial the batch.
        n, cents, peak = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            n += len(pdf)
            if len(vals):
                # shared correctly-rounded half-away cents kernel
                # (tables.cents_np): pandas .round() is half-even and
                # floor(abs+0.5) mis-rounds the double just below .5
                cents += int(cents_np(vals).sum())
                peak = max(peak, float(vals.max()))
        state.update((n, cents, peak))
        yield pd_.DataFrame(
            {
                "event_type": [key[0]],
                "n": [n],
                "total": [cents / 100.0],
                "peak": [peak],
            }
        )

    out = s.groupBy("event_type").applyInPandasWithState(
        track,
        outputStructType="event_type string, n long, total double, peak double",
        stateStructType="n long, cents long, peak double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emissions = run_to_memory(out, mode="update")
    # The FINAL emission per key is the batch answer.  n (count) is the
    # one column that is monotone regardless of sign — the running total
    # is NOT monotone once negative measurements appear — so max_by(n)
    # selects the last emission; peak (a max) is monotone on its own.
    return emissions.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max_by("total", "n").alias("total"),
        F.round(F.max("peak"), 4).alias("peak"),
    )


_FOREACH_ORACLE = """
SELECT event_type, count(*) AS n
FROM events
GROUP BY event_type
"""


@register("stream_foreach_batch_sink", oracle=_FOREACH_ORACLE, tier="T4")
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink: append each micro-batch to a parquet
    dir, then read the sink back and count per type — proves exactly the
    rows streamed through land in the sink."""
    out_dir = scratch_dir(spark, "fbsink_")
    s = read_events_stream(spark, sf_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with stream_shuffle_partitions(spark):
        q = (
            s.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", scratch_dir(spark, "ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # Read back with the streamed schema (R10 rule: never re-infer what
    # the engine wrote; a stream with no batch leaves no data file).
    return (
        spark.read.schema(s.schema).parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_DYN_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
         CASE WHEN event_type = 'purchase' THEN 1800000000 ELSE 300000000 END
           AS gap_us
  FROM events
), flagged AS (
  SELECT user_id, ts, t_us, gap_us,
         CASE WHEN t_us > max(t_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY t_us, gap_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR max(t_us + gap_us) OVER (
                PARTITION BY user_id ORDER BY t_us, gap_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM e
), sessions AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, gap_us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM flagged
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM sessions
GROUP BY user_id, sess_id
"""


@register("stream_session_dynamic_gap", oracle=_DYN_SESSION_ORACLE, tier="T4")
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose gap DEPENDS ON THE EVENT (session_window
    with a Column gap): purchases hold a session open 30 minutes,
    everything else 5 — the e-commerce reality fixed-gap sessionization
    flattens (stream_session_window is the fixed-gap twin).  Each event
    contributes the interval [ts, ts+gap(event)]; overlapping intervals
    per user merge, the boundary being INCLUSIVE — an event at exactly
    the previous session's end EXTENDS the session (pinned empirically
    on Spark 4.1: {t, t+5min} with a 5-minute gap is ONE session,
    {t, t+5min+1µs} is two; the round-7 --ties sweep caught the oracle
    claiming the opposite, which only a grid-aligned corpus can see).
    The batch oracle derives the same islands from first principles: a
    session break is `t > running-max of previous (t + gap)` over
    µs-epoch integers — running-MAX, not lag, because a long-gap event
    can outlast several later short-gap ones; strict >, because the
    boundary is inclusive (the fixed-gap twin's `gap > 30 min` flag is
    the same convention).  Streaming state per key is one open session
    (merged on arrival), evicted by the watermark — the same bounded-
    state contract as the fixed-gap op."""
    s = read_events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", "30 minutes").otherwise(
        "5 minutes"
    )
    agg = (
        s.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n", "first_ts", "last_ts")
    )
    return run_to_memory(agg)


_CKPT_RESUME_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(sum({cents_sql("value")}) AS BIGINT) AS cents
FROM events
"""


@register("stream_checkpoint_resume", oracle=_CKPT_RESUME_ORACLE, tier="T4")
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once resume from a checkpoint — THE property that makes
    Structured Streaming restartable: the event stream lands in two
    installments (even event_ids, then odd), with a SEPARATE
    availableNow run per installment sharing ONE checkpoint and ONE
    append-mode parquet sink.  The second run must process ONLY the
    files that arrived after the first (the checkpoint's file-source
    log records what was committed) — if it reprocessed installment 1,
    the sink would hold duplicates and every audit column would blow
    past the batch oracle; count(DISTINCT event_id) == count(*) is the
    explicit no-duplicates witness.  This is the crash-recovery /
    daily-resume contract a production ingest job leans on; at 100 TB
    the checkpoint log is what turns "reprocess the bucket" into
    "process today's files"."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", cents_col("value").alias("cents")
    )
    schema = "event_id long, ts timestamp, cents long"
    base = scratch_dir(spark, "udp_ckptres_")
    inbox, sink, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"

    def run_installment(pred):
        e.filter(pred).write.mode("append").parquet(inbox)
        q = (
            spark.readStream.schema(schema)
            .parquet(inbox)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with stream_shuffle_partitions(spark):
        run_installment(F.col("event_id") % 2 == 0)
        run_installment(F.col("event_id") % 2 == 1)
    return spark.read.schema(schema).parquet(sink).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_id").alias("n_distinct"),
        F.sum("cents").alias("cents"),
    )


_SLIDING_TOPK_ORACLE = """
WITH win AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
           + INTERVAL 15 MINUTE
             * CAST(floor(minute(CAST(ts AS TIMESTAMP)) / 15) AS INT)
           - INTERVAL 15 MINUTE * k AS win_start,
         event_type
  FROM events
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
), counted AS (
  SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
  FROM win GROUP BY 1, 2
)
SELECT win_start, event_type, n, rnk FROM (
  -- NULLS LAST pinned (round 9, class 3): a NULL event_type is a real
  -- leaderboard entry; Spark ranks NULL first ascending, DuckDB last.
  SELECT *, CAST(row_number() OVER (PARTITION BY win_start
                         ORDER BY n DESC, event_type NULLS LAST) AS INT) AS rnk
  FROM counted
) WHERE rnk <= 3
"""


@register("stream_sliding_topk", oracle=_SLIDING_TOPK_ORACLE, tier="T4")
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: top-3 event types per 1-hour window sliding
    every 15 minutes.  Ranking is not a streaming-supported operation
    (no windows-over-aggregates in update/complete mode), so the op
    composes the two halves the way production dashboards do: the
    STREAM maintains the (window × type) counting state — the part that
    must be incremental — and the rank over the final materialized
    state is a cheap bounded batch window (grain = windows × types).
    Ties break on (n DESC, event_type) — exact integers, engine-free.

    At 100 TB/day the stream side's state is windows × types, not
    events — availableNow runs here, continuous triggers in production
    with the same plan."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(
            F.window("ts", "1 hour", "15 minutes"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )
    final = run_to_memory(agg)
    from pyspark.sql import Window

    # NULLS LAST matches the oracle (see _SLIDING_TOPK_ORACLE note)
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc_nulls_last("event_type")
    )
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("win_start", "event_type", "n", "rnk")
    )

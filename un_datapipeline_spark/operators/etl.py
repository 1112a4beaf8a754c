"""Generic-ETL maintenance operators: merge/upsert, CDC latest-by-key
compaction, and data-quality validation — the pipeline-engine surface
(BASELINE.json category: ETL/pipeline) around the relational core.

Scale posture: merge is ONE full-outer join keyed on the merge key (the
standard snapshot-merge plan — at 100 TB both sides shuffle once on the
key, or zero times if the snapshot is bucketed on it, scale.py);
latest-by-key is a partial-aggregable max_by (no window sort); DQ checks
fold into one scan per table with conditional counts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import _hadoop_path, conf_scope, scratch_dir
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    cents_sum,
    json_long_strict_sql,
    json_usable_sql,
    load_table,
)

_LATEST_ORACLE = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       ROUND(value, 4) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("etl_latest_by_key", oracle=_LATEST_ORACLE, tier="T2")
def etl_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: the latest event per user (ts desc, event_id desc
    tie-break).  Implemented as max_by over a struct — partial+final
    aggregation, no per-key window sort; the shape that compacts a
    100 TB changelog in one shuffle."""
    e = load_table(spark, sf_dir, "events")
    best = F.max_by(
        F.struct("event_id", "ts", "event_type", "value"), F.struct("ts", "event_id")
    )
    return (
        e.groupBy("user_id")
        .agg(best.alias("b"))
        .select(
            "user_id",
            F.col("b.event_id").alias("event_id"),
            F.col("b.ts").alias("ts"),
            F.col("b.event_type").alias("event_type"),
            F.round(F.col("b.value"), 4).alias("value"),
        )
    )


_MERGE_ORACLE = """
WITH updates AS (
  SELECT c_custkey, c_acctbal + 100.0 AS new_bal
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT 1000000 + r_regionkey, 0.0 FROM region
), merged AS (
  SELECT coalesce(c.c_custkey, u.c_custkey) AS key,
         CASE WHEN u.c_custkey IS NOT NULL THEN u.new_bal ELSE c.c_acctbal END AS bal,
         CASE WHEN c.c_custkey IS NULL THEN 'inserted'
              WHEN u.c_custkey IS NULL THEN 'unchanged'
              ELSE 'updated' END AS action
  FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.c_custkey
)
SELECT action, CAST(count(*) AS BIGINT) AS n, ROUND(sum(bal), 4) AS total_bal
FROM merged GROUP BY action
"""


@register("etl_merge_upsert", oracle=_MERGE_ORACLE, tier="T2")
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: snapshot ⟗ updates on
    the key; matched rows take the update, unmatched sources insert,
    unmatched targets carry over.  The update set is derived
    deterministically (every 10th customer re-balanced + 5 new keys) so
    both engines merge identical inputs.  Output: per-action audit."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    r = load_table(spark, sf_dir, "region")
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("new_bal"))
        .unionByName(
            r.select(
                (F.lit(1000000) + F.col("r_regionkey").cast("long")).alias("c_custkey"),
                F.lit(0.0).alias("new_bal"),
            )
        )
    )
    u = updates.withColumnRenamed("c_custkey", "u_key")
    merged = c.join(u, c.c_custkey == u.u_key, "full_outer").select(
        F.coalesce("c_custkey", "u_key").alias("key"),
        F.when(F.col("u_key").isNotNull(), F.col("new_bal"))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("u_key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("bal"), 4).alias("total_bal")
    )


_DQ_ORACLE = """
SELECT rule, CAST(n AS BIGINT) AS n_violations FROM (
  SELECT 'orders_null_key' AS rule, count(*) FILTER (o_orderkey IS NULL) AS n FROM orders
  UNION ALL
  SELECT 'orders_bad_status', count(*) FILTER (o_orderstatus NOT IN ('O','F','P')) FROM orders
  UNION ALL
  SELECT 'orders_nonpositive_price', count(*) FILTER (o_totalprice <= 0) FROM orders
  UNION ALL
  SELECT 'lineitem_discount_range', count(*) FILTER (l_discount < 0 OR l_discount > 1) FROM lineitem
  UNION ALL
  SELECT 'lineitem_ship_before_order',
         (SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_shipdate < o.o_orderdate)
  UNION ALL
  SELECT 'orders_orphan_custkey',
         (SELECT count(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
)
"""


@register("etl_dq_validate", oracle=_DQ_ORACLE, tier="T2")
def etl_dq_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report: null keys, domain violations, range checks,
    temporal consistency (ship before order), and referential integrity
    (orphan foreign keys via anti-join).  Single-scan conditional counts
    per table + one keyed join per relationship rule."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def rule(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("rule"), F.col("n").alias("n_violations"))

    cnt = F.count(F.lit(1))
    parts = [
        rule(
            "orders_null_key",
            o.agg(F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n")),
        ),
        rule(
            "orders_bad_status",
            o.agg(
                F.sum(
                    F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
                ).alias("n")
            ),
        ),
        rule(
            "orders_nonpositive_price",
            o.agg(F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("n")),
        ),
        rule(
            "lineitem_discount_range",
            li.agg(
                F.sum(
                    F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
                ).alias("n")
            ),
        ),
        rule(
            "lineitem_ship_before_order",
            li.join(o, li.l_orderkey == o.o_orderkey)
            .filter(F.col("l_shipdate") < F.col("o_orderdate"))
            .agg(cnt.alias("n")),
        ),
        rule(
            "orders_orphan_custkey",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(cnt.alias("n")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("n_violations", F.col("n_violations").cast("long"))


# Portable deterministic bucket in [0,100): combine ascii codes of 4 md5
# hex chars — identical formula in both dialects (engine hash functions
# like xxhash64 are NOT portable; md5 is).
_BUCKET_SQL = (
    "(ascii(substr(md5(CAST(doc_id AS STRING)), 1, 1)) * 1000003"
    " + ascii(substr(md5(CAST(doc_id AS STRING)), 2, 1)) * 8191"
    " + ascii(substr(md5(CAST(doc_id AS STRING)), 3, 1)) * 131"
    " + ascii(substr(md5(CAST(doc_id AS STRING)), 4, 1))) % 100"
)

_SPLIT_ORACLE = f"""
SELECT split, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM (
  SELECT doc_id, n_chars,
         CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
"""


@register("etl_train_split", oracle=_SPLIT_ORACLE, tier="T3")
def etl_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-stable
    hash bucketing (md5-derived, portable across engines/runs/cluster
    sizes — the property randomSplit does NOT have).  Any row joins to
    the same split forever, which is what makes incremental corpus
    refreshes reproducible."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_BUCKET_SQL)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("doc_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )

# ---------------------------------------------------------------------------
# Language/domain balancing via integer hash thresholds
# ---------------------------------------------------------------------------

_BALANCE_ORACLE = """
WITH per AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), mn AS (
  SELECT min(n_docs) AS min_docs FROM per
), th AS (
  SELECT lang, n_docs, (65536 * min_docs) // n_docs AS thresh, min_docs
  FROM per, mn
)
SELECT d.lang,
       CAST(t.n_docs AS BIGINT) AS n_before,
       CAST(t.thresh AS BIGINT) AS thresh,
       CAST(sum(CASE WHEN t.n_docs = t.min_docs
                       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                          < lpad(lower(to_hex(t.thresh)), 4, '0')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN th t USING (lang)
GROUP BY d.lang, t.n_docs, t.thresh
"""


@register("etl_balance_domains", oracle=_BALANCE_ORACLE, tier="T2")
def etl_balance_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language balancing by deterministic hash gating: every language is
    downsampled toward the smallest language's doc count.  The keep
    threshold is the exact integer (65536·min_docs)//n_docs compared
    against each doc's first 4 md5 hex chars — integer arithmetic and
    string comparison only, so both engines select the IDENTICAL doc set
    (no RNG, no float boundary).  The min_docs language short-circuits to
    keep-all (its threshold would need 5 hex digits).

    Scale shape: the per-language histogram is dimension-sized and
    broadcast back; gating is a scan-side Column predicate.  Re-running
    on a grown corpus keeps previously-kept docs stable wherever the
    threshold didn't move — the reproducibility property a training-mix
    rebuild needs."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    mn = per.agg(F.min("n_docs").alias("min_docs"))
    th = per.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_docs",
        F.expr("(65536 * min_docs) div n_docs").alias("thresh"),
        "min_docs",
    )
    j = d.join(F.broadcast(th), "lang")
    kept = F.when(
        (F.col("n_docs") == F.col("min_docs"))
        | (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < F.lpad(F.lower(F.hex(F.col("thresh"))), 4, "0")
        ),
        1,
    ).otherwise(0)
    return j.groupBy("lang", "n_docs", "thresh").agg(
        F.sum(kept).cast("long").alias("n_kept")
    ).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_before"),
        F.col("thresh").cast("long").alias("thresh"),
        "n_kept",
    )


# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------

_COMPACT_ORACLE = """
SELECT 32 AS partitions_before,
       CAST(LEAST(4, GREATEST(count(*), 1)) AS INT) AS partitions_after,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem
"""


@register("etl_compact_files", oracle=_COMPACT_ORACLE, tier="T2")
def etl_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: materialize lineitem as 32 small parquet
    files (the over-partitioned layout a streaming ingest leaves behind),
    then rewrite with coalesce(4) and verify nothing was lost.  The
    oracle pins the layout CONTRACT — exactly 32 before, 4 after, same
    rows and key checksum — because repartition(n)/coalesce(n) emit
    exactly n files.

    Scale shape: coalesce(4) merges partitions WITHOUT a shuffle (it
    narrows the partitioning), which is the entire point of compaction —
    a repartition would pay a full shuffle to fix a layout problem.  At
    100 TB the same op runs per hive-partition with n sized to the
    128 MB-file target."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")

    def n_parts(d: str) -> int:
        fs, parts = _hadoop_path(spark, f"{d}/part-*.parquet")
        return len(fs.globStatus(parts))

    small_dir = scratch_dir(spark, "udps_small_")
    # Hash on the key, not round-robin: Spark sorts every row before a
    # round-robin exchange to keep it deterministic on retry
    # (spark.sql.execution.sortBeforeRepartition, SPARK-23207); a hash
    # exchange is deterministic without that sort.
    fragmented = li.repartition(32, "l_orderkey")
    # The planned exchange's width, read without running anything: under
    # AQE, ``.rdd.getNumPartitions()`` runs the shuffle map stage as its
    # own job and the write then recomputes it.  ``sparkPlan`` (not
    # ``executedPlan``, which reports UnknownPartitioning(0) before AQE
    # executes) holds the ShuffleExchange that repartition(32) plans.
    partitions_before = (
        fragmented._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
    )
    fragmented.write.mode("overwrite").parquet(small_dir)
    files_before = n_parts(small_dir)
    assert files_before <= partitions_before, (files_before, partitions_before)
    compact_dir = scratch_dir(spark, "udps_compact_")
    # The layout CONTRACT is the logical partition count (what coalesce
    # promises), not the physical file count: the writer skips a file
    # for an all-empty task, and the scan PACKS tiny files into fewer
    # than 4 read-partitions (maxPartitionBytes) — on a tiny corpus both
    # effects made the glob count undershoot 4 while the compaction
    # itself was correct (round-6 tiny-tables sweep).  One partition per
    # input file is pinned for the compaction read (conf restored after
    # the write action — the scan layout is decided at action time), and
    # the glob stays as a sanity bound: never MORE files than partitions.
    # openCostInBytes = one full bin per file: padding makes any two
    # files overflow a maxPartitionBytes bin, so nothing packs, while
    # files are never SPLIT (a 1-byte maxPartitionBytes would shatter
    # each file into size/1 empty splits — measured 120 s on sf0.01).
    bin_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with conf_scope(spark, {"spark.sql.files.openCostInBytes": bin_bytes}):
        compacted = spark.read.schema(fragmented.schema).parquet(small_dir).coalesce(4)
        partitions_after = compacted.rdd.getNumPartitions()
        compacted.write.mode("overwrite").parquet(compact_dir)
    files_after = n_parts(compact_dir)
    assert files_after <= partitions_after, (files_after, partitions_after)
    # Loud internal check, not a reported value (ADVICE r06): with
    # openCostInBytes pinned the compaction scan takes one partition per
    # input file, so coalesce(4) must land on exactly min(4, files).  Any
    # other count means the pinning failed and the op must crash here,
    # not silently diverge from the oracle downstream — a hard raise, not
    # an assert, so python -O cannot compile the guard away.
    if partitions_after != min(4, files_before):
        raise RuntimeError(
            "compaction layout drifted from the coalesce contract: "
            f"partitions_after={partitions_after}, files_before={files_before}"
        )
    back = spark.read.schema(fragmented.schema).parquet(compact_dir)
    # Contract: coalesce(4) promises AT MOST 4, and below 4 rows the
    # physical count is placement-dependent (the writer skips all-empty
    # tasks, and k<4 rows can hash to fewer than k of the 32
    # partitions).  The hash row therefore reports the
    # CONTRACT value LEAST(4, GREATEST(rows, 1)) — the same expression
    # as the oracle, closing the round-6 accepted residual (a multi-
    # input-partition tiny corpus whose >=4 rows round-robin-collide
    # below 4 files used to undershoot).  The measured logical count is
    # asserted above instead of reported.
    return back.agg(
        F.lit(partitions_before).alias("partitions_before"),
        F.least(F.lit(4).cast("long"), F.greatest(F.count(F.lit(1)), F.lit(1)))
        .cast("int")
        .alias("partitions_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# Corrupt-record quarantine
# ---------------------------------------------------------------------------

# json_usable + try-cast guard (round 10, R10_BADJSON_PLAN): the op
# whose PURPOSE is quarantining bad rows must not die on them.  The
# acceptance gate on BOTH sides is Spark's variant parser (try_parse_
# json ↔ tables.json_usable_sql): malformed payloads, duplicate-key
# objects (json_extract takes the FIRST dup where from_json keeps the
# LAST — ambiguous, so quarantined outright), and wrong-typed k
# (TRY_CAST) all land in n_quarantined on BOTH engines, which is this
# op's whole semantics.
_QUARANTINE_ORACLE = f"""
WITH parsed AS (
  SELECT event_id,
         -- json_long_strict_sql: from_json('k long') parses ONLY an
         -- integer JSON number; the bare TRY_CAST coerced 1.5/'7'/true
         -- (review catch)
         CASE WHEN event_id % 97 = 0 OR NOT {json_usable_sql()}
              THEN NULL
              ELSE {json_long_strict_sql()} END AS k
  FROM events
)
SELECT count(*) AS n_total,
       count(k) AS n_good,
       count(*) - count(k) AS n_quarantined,
       CAST(sum(k) AS BIGINT) AS k_sum
FROM parsed
"""


@register("etl_quarantine_bad_rows", oracle=_QUARANTINE_ORACLE, tier="T2")
def etl_quarantine_bad_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: a deterministic 1/97 slice of the
    events feed has its JSON payload truncated (simulating upstream
    corruption), PERMISSIVE from_json turns those into NULL structs, and
    the pipeline splits good rows from quarantined ones instead of
    failing the batch.  Counts + payload checksum verify nothing is
    silently dropped.  Pre-existing feed corruption (truncated objects,
    bare text, wrong-typed payloads — R10_BADJSON_PLAN) routes into the
    SAME quarantine count on both engines: Spark via PERMISSIVE
    from_json, the oracle via its json_valid/TRY_CAST guard.

    Scale shape: pure per-row Column expressions (regexp + from_json in
    codegen); the quarantine split is two filters over one scan — the
    standard dead-letter pattern, no shuffle at all (the final count
    aggregate is the only exchange)."""
    e = load_table(spark, sf_dir, "events")
    corrupted = F.when(
        F.col("event_id") % 97 == 0,
        # chop the payload mid-object: '{"k": 12' — invalid JSON
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    # try_parse_json gate (see the oracle note): dup-key payloads are
    # ambiguous and quarantined, not last-key-parsed
    parsed = e.select(
        "event_id",
        F.when(
            F.try_parse_json(corrupted).isNotNull(),
            F.from_json(corrupted, "k long"),
        ).alias("p"),
    ).select("event_id", F.col("p.k").alias("k"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("k").alias("n_good"),
        (F.count(F.lit(1)) - F.count("k")).alias("n_quarantined"),
        F.sum("k").cast("long").alias("k_sum"),
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff
# ---------------------------------------------------------------------------

_CDC_ORACLE = f"""
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '1997-07-01'
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01'
), diff AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice <> n.o_totalprice THEN 'update'
              ELSE 'unchanged' END AS change_type,
         COALESCE({cents_sql("n.o_totalprice")}, 0)
           - COALESCE({cents_sql("o.o_totalprice")}, 0) AS delta_c
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT change_type,
       CAST(count(*) AS BIGINT)            AS n,
       CAST(min(k) AS BIGINT)              AS min_key,
       CAST(max(k) AS BIGINT)              AS max_key,
       ROUND(sum(delta_c) / 100.0, 4)      AS amount_delta
FROM diff
WHERE change_type <> 'unchanged'
GROUP BY change_type
ORDER BY change_type
"""


@register("etl_cdc_diff", oracle=_CDC_ORACLE, tier="T2")
def etl_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture snapshot diff: two overlapping snapshots of
    orders (old = first year-and-a-half, new = trailing window with a
    deterministic +100.00 price change on urgent orders) are full-outer
    joined on the key and every row classified insert / delete / update
    / unchanged; the summary reports row counts and the net amount
    delta per change class.

    Scale shape: ONE full-outer shuffle join on the primary key — the
    canonical snapshot-reconciliation plan; both sides shuffle once on
    the join key and the classifier is a row-local CASE.  Money deltas
    are summed as integer cents and divided once (ROUND_NOTES float
    policy — sums of 2-dec doubles would round-flip on .5 boundaries)."""
    o_all = load_table(spark, sf_dir, "orders")
    old = o_all.filter(
        F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    ).select("o_orderkey", "o_totalprice")
    new = o_all.filter(
        F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") + 100.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    diff = j.select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("k"),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(F.col("o.o_totalprice") != F.col("n.o_totalprice"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        (
            F.coalesce(cents_col("n.o_totalprice"), F.lit(0))
            - F.coalesce(cents_col("o.o_totalprice"), F.lit(0))
        ).alias("delta_c"),
    )
    return (
        diff.filter(F.col("change_type") != "unchanged")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            F.round(F.sum("delta_c") / 100.0, 4).alias("amount_delta"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Partition backfill (dynamic partition overwrite)
# ---------------------------------------------------------------------------

_BACKFILLED_VALUE = """(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
                      THEN value * 2 ELSE value END)"""
_BACKFILL_ORACLE = f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       CAST(count(*) AS BIGINT)               AS n,
       CAST(sum({cents_sql(_BACKFILLED_VALUE)}) AS BIGINT)
         / 100.0 AS total_value
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("etl_backfill_partitions", oracle=_BACKFILL_ORACLE, tier="T2")
def etl_backfill_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent single-partition backfill, the lake maintenance
    operation: events land hive-partitioned by day, then ONE day
    (2024-01-05) is recomputed (value doubled) and rewritten under
    `partitionOverwriteMode=dynamic` — only the touched partition's
    directory is replaced, every other day's files are left physically
    untouched.  (Static overwrite mode would delete all 30 days — the
    classic backfill foot-gun this mode exists to prevent.)  The oracle
    recomputes the expected post-backfill state from the source table;
    equality proves both the partition isolation and the rewrite.
    At 100 TB this is the nightly-correction pattern: cost scales with
    the corrected day, not the table."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = scratch_dir(spark, "udps_backfill_")
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    patch = ev.filter(F.col("event_date") == F.lit("2024-01-05").cast("date")).withColumn(
        "value", F.col("value") * 2
    )
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        patch.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # Explicit schema on read-back (round 10, R10_EMPTY_PLAN class 1):
    # an empty source writes NO data files and schema inference dies
    # with UNABLE_TO_INFER_SCHEMA — the writer KNOWS the schema, so pass
    # it; an empty write must still yield a queryable 0-row table.  The
    # correct cluster posture anyway: inference lists footers, the
    # explicit schema skips that entirely at 100 TB.
    back = spark.read.schema(ev.schema).parquet(out)
    return (
        back.groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total_value"),
        )
        .orderBy("event_date")
    )


_TIME_TRAVEL_ORACLE = f"""
SELECT
  CAST(count(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT) AS v1_rows,
  CAST(count(*) AS BIGINT) AS v2_rows,
  CAST(count(*) FILTER (o_orderkey % 10 = 0) AS BIGINT) AS rows_added,
  CAST(count(*) FILTER (o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0) AS BIGINT)
    AS rows_changed,
  CAST(sum(CASE WHEN o_orderkey % 10 <> 0
                THEN {cents_sql("o_totalprice")} END) AS BIGINT)
    AS v1_cents,
  CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS v2_cents
FROM orders
"""


@register("etl_time_travel", oracle=_TIME_TRAVEL_ORACLE, tier="T1")
def etl_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-snapshot time travel without a table format: two
    snapshot versions of orders are written under version= partitions
    (v1 missing the 10% late-arriving keys, v2 complete with 1-in-7
    statuses amended), and BOTH "as of" reads go through the partition
    column so Spark prunes to one snapshot per read — the poor-man's
    Delta/Iceberg time travel, and the layout a migration lands on
    before adopting a real table format.  The returned single-row audit
    (row counts, added/changed keys, money totals per version) is
    computed from the READ-BACK snapshots, so the oracle hash proves
    the versioned roundtrip is lossless, not just that the rules were
    applied.  The version diff is one left-anti + one equi-join on the
    snapshot key."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents_col("o_totalprice").alias("cents"),
    )
    v1 = o.filter(F.col("o_orderkey") % 10 != 0).withColumn("version", F.lit(1))
    v2 = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("U")).otherwise(
            F.col("o_orderstatus")
        ),
    ).withColumn("version", F.lit(2))
    out = scratch_dir(spark, "udps_timetravel_")
    snapshots = v1.unionByName(v2)
    snapshots.write.mode("overwrite").partitionBy("version").parquet(out)
    back = spark.read.schema(snapshots.schema).parquet(out)
    asof1 = back.filter(F.col("version") == 1)
    asof2 = back.filter(F.col("version") == 2)
    m1 = asof1.agg(
        F.count(F.lit(1)).alias("v1_rows"), F.sum("cents").alias("v1_cents")
    )
    m2 = asof2.agg(
        F.count(F.lit(1)).alias("v2_rows"), F.sum("cents").alias("v2_cents")
    )
    added = asof2.join(
        asof1.select("o_orderkey"), "o_orderkey", "left_anti"
    ).agg(F.count(F.lit(1)).alias("rows_added"))
    changed = (
        asof2.alias("b")
        .join(asof1.alias("a"), "o_orderkey")
        .filter(F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("rows_changed"))
    )
    return (
        m1.crossJoin(m2)
        .crossJoin(added)
        .crossJoin(changed)
        .select(
            "v1_rows", "v2_rows", "rows_added", "rows_changed",
            "v1_cents", "v2_cents",
        )
    )


_GDPR_ORACLE = """
WITH forget AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
)
SELECT CAST((SELECT count(*) FROM events) AS BIGINT) AS n_before,
       CAST((SELECT count(*) FROM forget) AS BIGINT) AS n_forget_users,
       CAST((SELECT count(*) FROM events WHERE user_id % 97 = 0) AS BIGINT)
         AS n_rows_deleted,
       CAST((SELECT count(*) FROM events WHERE user_id % 97 <> 0) AS BIGINT)
         AS n_after,
       CAST(0 AS BIGINT) AS n_remaining_for_forgotten
"""


@register("etl_gdpr_delete", oracle=_GDPR_ORACLE, tier="T1")
def etl_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten scrub: a deterministic forget-set of users
    (user_id % 97) is anti-joined out of events, the scrubbed table is
    REWRITTEN to parquet, and the audit row is computed from the
    READ-BACK files — n_remaining_for_forgotten counts forget-set rows
    that survived the rewrite, and the oracle pins it to zero, so the
    hash proves physical deletion, not just a filtered view.  The
    deletion itself is one left-anti join on the user key (broadcast
    when the forget-set is small, shuffle otherwise — Catalyst's
    call); at 100 TB the same plan applies per partition, and a
    user-bucketed layout (sink_bucketed_write) turns it into a
    shuffle-free per-bucket rewrite."""
    e = load_table(spark, sf_dir, "events")
    forget = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    scrubbed = e.join(forget, "user_id", "left_anti")
    out = scratch_dir(spark, "udps_gdpr_")
    scrubbed.write.mode("overwrite").parquet(out)
    back = spark.read.schema(scrubbed.schema).parquet(out)
    remaining = back.join(forget, "user_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_remaining_for_forgotten")
    )
    return (
        e.agg(F.count(F.lit(1)).alias("n_before"))
        .crossJoin(forget.agg(F.count(F.lit(1)).alias("n_forget_users")))
        .crossJoin(
            e.filter(F.col("user_id") % 97 == 0).agg(
                F.count(F.lit(1)).alias("n_rows_deleted")
            )
        )
        .crossJoin(back.agg(F.count(F.lit(1)).alias("n_after")))
        .crossJoin(remaining)
    )


_DATE_SPINE_ORACLE = f"""
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders,
         CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT s.d,
       CAST(isodow(s.d) AS INT)                            AS iso_dow,
       CAST(CASE WHEN isodow(s.d) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend,
       CAST(year(s.d) AS INT)                              AS yr,
       CAST(quarter(s.d) AS INT)                           AS qtr,
       CAST(month(s.d) AS INT)                             AS mth,
       CAST(COALESCE(n_orders, 0) AS BIGINT)               AS n_orders,
       CAST(COALESCE(cents, 0) AS BIGINT)                  AS cents
FROM spine s LEFT JOIN daily USING (d)
ORDER BY s.d
"""


@register("etl_date_spine", oracle=_DATE_SPINE_ORACLE, tier="T1")
def etl_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar date-spine generation — the date-dimension ETL primitive:
    a dense day grid over the fact table's date range with calendar
    attributes (ISO weekday, weekend flag, year/quarter/month), left-
    joined to daily order rollups so ZERO-activity days exist as rows
    (the precondition for correct day-over-day, gap, and seasonality
    math downstream; ts_resample_ffill applies the same spine idea to
    per-series hourly grids).  Spark's dayofweek is Sunday=1 while
    DuckDB's isodow is Monday=1 — mapped via (dow + 5) % 7 + 1 (the
    probed translation advanced.py:1111 uses).  Scale: the spine is
    calendar-sized (years × 365 rows) generated from a 1-row bounds
    aggregate — broadcast side of the join; the daily rollup is one
    partial+final hash agg on the facts."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    cents = cents_col("o_totalprice")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(cents).alias("cents")
    )
    iso_dow = ((F.dayofweek("d") + 5) % 7 + 1).cast("int")
    return (
        spine.join(daily, "d", "left")
        .select(
            "d",
            iso_dow.alias("iso_dow"),
            F.when(iso_dow >= 6, 1).otherwise(0).cast("int").alias("is_weekend"),
            F.year("d").cast("int").alias("yr"),
            F.quarter("d").cast("int").alias("qtr"),
            F.month("d").cast("int").alias("mth"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
        )
        .orderBy("d")
    )


_VACUUM_ORACLE = f"""
SELECT
  CAST(3 AS BIGINT)                                   AS versions_before,
  CAST(1 AS BIGINT)                                   AS versions_removed,
  CAST(2 AS BIGINT)                                   AS versions_after,
  CAST(count(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT) AS oldest_removed_rows,
  CAST(count(*) AS BIGINT)                            AS live_rows,
  CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS live_cents
FROM orders
"""


@register("etl_vacuum_retention", oracle=_VACUUM_ORACLE, tier="T1")
def etl_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot VACUUM with a retention floor — the maintenance pass the
    etl_time_travel layout needs to not grow forever: three version=
    snapshots are written (v1 missing the late keys, v2 complete, v3 =
    current), retention keeps the newest 2, and the expired v1
    partition's files are PHYSICALLY deleted (directory removal audited
    by re-listing, the etl_gdpr_delete discipline: the audit reads the
    POST-vacuum table, so the hash proves both that v1 is gone and that
    surviving versions are byte-intact).  Retention-respecting vacuum is
    what makes time travel safe to run on a 100 TB table: expiry prunes
    whole version= partition directories — O(versions removed) metadata
    work, no data scan of the survivors."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents_col("o_totalprice").alias("cents"),
    )
    v1 = o.filter(F.col("o_orderkey") % 10 != 0).withColumn("version", F.lit(1))
    v2 = o.withColumn("version", F.lit(2))
    v3 = o.withColumn("version", F.lit(3))
    out = scratch_dir(spark, "udps_vacuum_")
    snapshots = v1.unionByName(v2).unionByName(v3)
    snapshots.write.mode("overwrite").partitionBy("version").parquet(out)

    def read_back() -> DataFrame:
        return spark.read.schema(snapshots.schema).parquet(out)

    def versions() -> list[int]:
        return sorted(
            int(r.version)
            for r in read_back().select("version").distinct().collect()
        )  # ≤ version count rows — bounded by design

    before = versions()
    oldest_rows = read_back().filter(F.col("version") == before[0]).count()
    keep = 2
    expired = before[:-keep] if len(before) > keep else []
    for v in expired:
        fs, version_dir = _hadoop_path(spark, f"{out}/version={v}")
        fs.delete(version_dir, True)
    after = versions()
    live = read_back().filter(F.col("version") == max(after))
    return live.agg(
        F.lit(len(before)).cast("long").alias("versions_before"),
        F.lit(len(expired)).cast("long").alias("versions_removed"),
        F.lit(len(after)).cast("long").alias("versions_after"),
        F.lit(oldest_rows).cast("long").alias("oldest_removed_rows"),
        F.count(F.lit(1)).alias("live_rows"),
        F.sum("cents").alias("live_cents"),
    )


_PIPELINE_COMPOSE_ORACLE = f"""
WITH staged AS (
  SELECT l_returnflag, l_linestatus,
         {cents_sql("l_extendedprice * (1 - l_discount)")} AS cents
  FROM lineitem
  WHERE l_quantity > 10
)
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM staged
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("etl_pipeline_compose", oracle=_PIPELINE_COMPOSE_ORACLE, tier="T1")
def etl_pipeline_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative Pipeline API (un_datapipeline_spark.pipeline)
    exercised end-to-end as a verified operator: source (canonical
    table loader) → filter transform → exact-cent revenue rollup →
    parquet sink, then the result is READ BACK from the sink for the
    hash check — proving both the composition (stages stay ONE lazy
    Catalyst plan: the late filter still pushes into the scan,
    test_pipeline asserts the plan shape) and the materialized output.
    This is the generic-ETL surface users of an orchestration-style
    engine program against; every registered operator drops in as a
    `transform` stage."""
    from un_datapipeline_spark.pipeline import Pipeline

    out = scratch_dir(spark, "udps_pipeline_") + "/revenue"
    pipeline = (
        Pipeline(spark, name="revenue_rollup")
        .source_table(sf_dir, "lineitem")
        .transform(lambda df: df.filter(F.col("l_quantity") > 10), "qty>10")
        .transform(
            lambda df: df.groupBy("l_returnflag", "l_linestatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    cents_col(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                ).alias("revenue_cents"),
            ),
            "revenue_rollup",
        )
        .sink_parquet(out, mode="overwrite")
    )
    pipeline.run()
    return (
        spark.read.schema(pipeline.to_df().schema).parquet(out)
        .select("l_returnflag", "l_linestatus", "n", "revenue_cents")
        .orderBy("l_returnflag", "l_linestatus")
    )


_INCR_WATERMARK_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) AS cents,
       max(CAST(ts AS TIMESTAMP)) AS max_ts
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("etl_incremental_watermark", oracle=_INCR_WATERMARK_ORACLE, tier="T2")
def etl_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental batch processing — the orchestrator
    pattern (Airflow/dbt incremental models) done inside the engine:
    run 1 processes events up to a mid-stream cutoff and persists BOTH
    the aggregate state and the watermark; run 2 reads the stored
    watermark, processes ONLY rows after it, and MERGES the partial
    aggregates (count/sum are mergeable; max re-maxes).  The final
    merged state must equal the single-shot aggregate over everything —
    the hash-matched proof that the incremental decomposition loses and
    double-counts nothing, including rows exactly AT the cutoff (kept
    in run 1, excluded by the strict > in run 2 — the off-by-one every
    hand-rolled watermark job gets wrong once).

    At 100 TB this is THE pattern that bounds daily cost: each run
    scans only the new partition range (the watermark predicate prunes
    at the scan when the table is date-partitioned), and state merge
    is group-count-sized, not data-sized."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        cents_col("value").alias("c"),
    )
    state_dir = scratch_dir(spark, "udps_incr_")
    # --- run 1: everything up to the median-ish cutoff -------------------
    cutoff = e.agg(
        F.timestamp_micros(
            (F.min(F.col("ts").cast("long")) + F.max(F.col("ts").cast("long")))
            .cast("long")
            * 500000
        ).alias("w")
    ).collect()[0].w  # 1 scalar — the watermark value itself
    run1 = (
        e.filter(F.col("ts") <= F.lit(cutoff))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("cents"),
            F.max("ts").alias("max_ts"),
        )
    )
    run1.write.mode("overwrite").parquet(f"{state_dir}/state")
    # --- run 2: strictly after the stored watermark ----------------------
    stored = spark.read.schema(run1.schema).parquet(f"{state_dir}/state")
    wm = stored.agg(F.max("max_ts").alias("w")).collect()[0].w  # 1 scalar
    run2 = (
        e.filter(F.col("ts") > F.lit(wm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("cents"),
            F.max("ts").alias("max_ts"),
        )
    )
    merged = (
        stored.unionByName(run2)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
            F.max("max_ts").alias("max_ts"),
        )
    )
    return merged.orderBy("event_type")


# coalesce/NULLIF sentinel lane (round 9, class 2): DuckDB's max_by
# SKIPS rows whose VALUE is NULL, but SCD3 semantics are positional —
# "the latest order's priority" may genuinely be NULL/unknown, and the
# Spark side (row_number + lead) keeps it.  Routing the value through
# chr(0) makes max_by pick by position alone; NULLIF restores the NULL.
_SCD3_ORACLE = """
WITH keyed AS (
  SELECT o_custkey, coalesce(o_orderpriority, chr(0)) AS prio0,
         CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) * 100000000
           + o_orderkey AS k
  FROM orders WHERE o_custkey < 500
), current AS (
  SELECT o_custkey, NULLIF(max_by(prio0, k), chr(0)) AS cur_prio,
         max(k) AS max_k
  FROM keyed GROUP BY o_custkey
), previous AS (
  SELECT k.o_custkey, NULLIF(max_by(k.prio0, k.k), chr(0)) AS prev_prio
  FROM keyed k JOIN current c
    ON k.o_custkey = c.o_custkey AND k.k < c.max_k
  GROUP BY k.o_custkey
)
SELECT c.o_custkey AS custkey, cur_prio, prev_prio,
       CAST(CASE WHEN prev_prio IS NOT NULL AND prev_prio <> cur_prio
            THEN 1 ELSE 0 END AS INT) AS changed
FROM current c LEFT JOIN previous p ON c.o_custkey = p.o_custkey
ORDER BY custkey
"""


@register("etl_scd3_prev_value", oracle=_SCD3_ORACLE, tier="T2")
def etl_scd3_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 — current + ONE previous value side by side (contrast
    Type 2's full history rows, etl_scd2_*): per customer, the latest
    order priority, the priority of the order just before it, and a
    changed flag.  The warehouse pattern when consumers only ever ask
    "what is it now and what was it last" — one row per key, no
    validity-range joins.  Expressed as a single window pass (latest
    and second-latest via ordered lag over (o_orderdate, o_orderkey) —
    the unique total order the PARITY.md doctrine requires) feeding a
    rank filter; no self-join.  The oracle derives both values
    independently via max_by over a composite BIGINT key (epoch·10⁸ +
    orderkey — DuckDB's max_by rejects struct keys, probed) — two
    formulations agreeing pins the tie-handling."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = o.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderpriority",
        F.row_number().over(w).alias("rn"),
        F.lead("o_orderpriority").over(w).alias("prev_prio_cand"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "custkey",
            F.col("o_orderpriority").alias("cur_prio"),
            F.col("prev_prio_cand").alias("prev_prio"),
            F.when(
                F.col("prev_prio_cand").isNotNull()
                & (F.col("prev_prio_cand") != F.col("o_orderpriority")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("changed"),
        )
        .orderBy("custkey")
    )


_PROFILE_ORACLE = """
SELECT col,
       CAST(n_null AS BIGINT) AS n_null,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       ROUND(n_null * 1.0 / n, 6) AS null_frac
FROM (
  SELECT 'o_orderstatus' AS col, count(*) - count(o_orderstatus) AS n_null,
         count(DISTINCT o_orderstatus) AS n_distinct, count(*) AS n FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority), count(*) FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*) - count(o_custkey),
         count(DISTINCT o_custkey), count(*) FROM orders
  UNION ALL
  SELECT 'o_orderdate', count(*) - count(o_orderdate),
         count(DISTINCT o_orderdate), count(*) FROM orders
)
ORDER BY col
"""


@register("etl_data_profile", oracle=_PROFILE_ORACLE, tier="T1")
def etl_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the first thing any data platform runs against
    an unfamiliar table (null fraction, distinct cardinality per
    column), here for four orders columns in ONE scan: all per-column
    aggregates evaluate in a single partial+final pass and the frame is
    unpivoted afterwards (contrast the naive one-query-per-column
    profiler, which scans the table N times — the difference between
    one 100 TB scan and N of them; etl_dq_validate applies the same
    one-pass discipline to rule CHECKS, this op to open-ended
    profiling).  count(DISTINCT …) across several columns in one agg
    triggers Spark's expand-based rewrite — row count multiplies by the
    distinct-column count, the known cost; switch to
    approx_count_distinct per column when exactness isn't owed."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(c).alias(f"{c}__distinct"),
            F.count(F.lit(1)).alias(f"{c}__n"),
        ]
    one = o.agg(*aggs)
    parts = [
        one.select(
            F.lit(c).alias("col"),
            F.col(f"{c}__null").cast("long").alias("n_null"),
            F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
            F.round(F.col(f"{c}__null") / F.col(f"{c}__n"), 6).alias("null_frac"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col")


# ---------------------------------------------------------------------------
# Merkle-style table fingerprint (cross-system reconciliation digest)
# ---------------------------------------------------------------------------

# NULL-safe canonical serialization (round 9, class 2): every nullable
# field goes through coalesce(x, chr(0)) — NUL cannot occur in real
# field data, so NULL stays distinguishable from '' and from absence.
# Neither engine's native concat is usable raw: DuckDB `||` NULLs the
# whole row hash, Spark concat_ws SKIPS null args, making (a,NULL,c)
# and (a,c,NULL) serialize identically.
_FPRINT_ORACLE = """
WITH rows_h AS (
  SELECT doc_id, doc_id % 16 AS bucket,
         md5(CAST(doc_id AS STRING)
             || '|' || coalesce(lang, chr(0))
             || '|' || coalesce(source, chr(0))
             || '|' || coalesce(CAST(n_chars AS STRING), chr(0))
             || '|' || coalesce(md5(text), chr(0))) AS row_h
  FROM documents
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       md5(string_agg(row_h, '' ORDER BY doc_id)) AS bucket_digest
FROM rows_h GROUP BY bucket ORDER BY bucket
"""


@register("etl_table_fingerprint", oracle=_FPRINT_ORACLE, tier="T2")
def etl_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style table fingerprint — the digest two systems exchange
    to verify a replicated/migrated table WITHOUT shipping rows: each
    row hashes its full content (md5 over a canonical field serialization
    with the text column pre-hashed), rows land in key-hash buckets, and
    each bucket's digest is the md5 of its rows' hashes in key order.
    Compare 16 digests instead of N rows; a mismatched bucket narrows
    the diff to 1/16th of the table (recurse for binary search —
    exactly how cross-region replication audits localize drift).

    Determinism lane: md5 is engine-portable (unlike xxhash64 /
    mono_id), the serialization is an explicit delimiter-joined string
    on both sides, and the in-bucket concat order is pinned by doc_id —
    ordered-fold lane, same discipline as agg_listagg_sorted.

    Scale shape: one scan + one hash agg on the bucket key; bucket
    count scales with the table (65k buckets for a 100 TB table keeps
    digests cheap and drill-down fine-grained).  The ordered string_agg
    within a bucket is the only sort, bounded by bucket size."""
    d = load_table(spark, sf_dir, "documents")
    # NULL-safe field lane: coalesce to the NUL sentinel BEFORE concat_ws
    # — concat_ws on its own SKIPS null args, so (a,NULL,c) and (a,c,NULL)
    # would serialize to the same bytes and two genuinely different rows
    # could fingerprint equal (round 9, class 2).  chr(0) can't occur in
    # real field data, so NULL stays distinct from '' as well.
    nul = F.lit("\x00")
    row_h = F.md5(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("lang"), nul),
            F.coalesce(F.col("source"), nul),
            F.coalesce(F.col("n_chars").cast("string"), nul),
            F.coalesce(F.md5("text"), nul),
        )
    )
    rows_h = d.select(
        (F.col("doc_id") % 16).cast("long").alias("bucket"),
        F.col("doc_id").alias("doc_id"),
        row_h.alias("row_h"),
    )
    return (
        rows_h.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.md5(
                F.expr("listagg(row_h, '') WITHIN GROUP (ORDER BY doc_id)")
            ).alias("bucket_digest"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics (the pre-salting report)
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH per_key AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS rows_
  FROM events GROUP BY user_id
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(rows_) AS BIGINT) AS n_rows,
         CAST(max(rows_) AS BIGINT) AS max_rows
  FROM per_key
)
SELECT p.user_id AS key, p.rows_ AS key_rows,
       CAST(p.rows_ * 1000000 // t.n_rows AS BIGINT) AS share_ppm,
       CAST(t.max_rows * t.n_keys * 1000000 // t.n_rows AS BIGINT)
         AS skew_factor_ppm,
       t.n_keys, t.n_rows
FROM per_key p CROSS JOIN tot t
ORDER BY p.rows_ DESC, p.user_id
LIMIT 10
"""


@register("etl_skew_report", oracle=_SKEW_ORACLE, tier="T2")
def etl_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics for a shuffle key (events.user_id): the 10
    hottest keys with their row share, plus the global skew factor
    max/avg (×10⁶) — the number that decides whether a join/groupBy on
    this key needs salting (join_skew_salted) or AQE skew-split before
    it ships.  Run this BEFORE the expensive job, not after it straggles.

    Everything is exact integer arithmetic over one hash aggregate
    (grain = distinct keys) and a singleton totals broadcast; the top-10
    is TakeOrdered on (rows DESC, key).  One fact-sized shuffle — the
    same one the diagnosed job would pay anyway."""
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("rows_"))
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("rows_").alias("n_rows"),
        F.max("rows_").alias("max_rows"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("rows_"), "user_id")
        .limit(10)
        .select(
            F.col("user_id").alias("key"),
            F.col("rows_").alias("key_rows"),
            F.expr("rows_ * 1000000 DIV n_rows").cast("long").alias("share_ppm"),
            F.expr("max_rows * n_keys * 1000000 DIV n_rows")
            .cast("long")
            .alias("skew_factor_ppm"),
            "n_keys",
            "n_rows",
        )
    )

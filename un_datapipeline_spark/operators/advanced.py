"""Round-2 capability extensions (ROUND_NOTES.md "known margins"):
SCD2 snapshot maintenance, sessionized funnel analysis, multi-probe LSH
similarity search, and a Kafka-wire-format streaming source.

Scale posture mirrors the rest of the engine: SCD2 is ONE left join on
the business key (bucketable to zero shuffles, scale.py); sessionization
is one shuffle on user_id with all window passes sharing that
partitioning; multi-probe explodes a probe into a handful of bucket keys
(candidate work stays bucket-bounded, never corpus×probes); the Kafka
source round-trips the exact kafka wire schema so swapping the file
fallback for a real broker is a one-line reader change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark import scale
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import ckpt, iteration_scope
from un_datapipeline_spark.operators.dedup_extras import (
    ALL_PAIRS,
    JACCARD,
    doc_trigrams,
    doc_trigrams_sql,
    gram_overlap,
    gram_overlap_sql,
)
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    cents_sum,
    exact_double_sql,
    load_table,
)

# ---------------------------------------------------------------------------
# SCD2 snapshot maintenance
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH updates AS (
  SELECT c_custkey AS u_key, 'PROMOTED' AS u_seg, c_acctbal + 50.0 AS u_bal
  FROM customer WHERE c_custkey % 10 = 0
), j AS (
  SELECT c.c_custkey AS key, c.c_mktsegment AS seg, c.c_acctbal AS bal,
         u.u_key, u.u_seg, u.u_bal
  FROM customer c LEFT JOIN updates u ON c.c_custkey = u.u_key
)
SELECT key, seg AS segment, ROUND(bal, 2) AS bal,
       '2024-01-01' AS valid_from,
       CASE WHEN u_key IS NOT NULL THEN '2024-06-01' END AS valid_to,
       CASE WHEN u_key IS NULL THEN 1 ELSE 0 END AS is_current
FROM j
UNION ALL
SELECT key, u_seg AS segment, ROUND(u_bal, 2) AS bal,
       '2024-06-01' AS valid_from, NULL AS valid_to, 1 AS is_current
FROM j WHERE u_key IS NOT NULL
"""


@register("etl_scd2_snapshot", oracle=_SCD2_ORACLE, tier="T2")
def etl_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance: apply a change batch
    to a dimension snapshot, closing the superseded version (valid_to set)
    and opening the new current one.

    The change batch is derived deterministically (every 10th customer is
    re-segmented to PROMOTED with +50 balance) so both engines merge
    identical inputs.  Plan shape: ONE left join on the business key,
    then a conditional 1-or-2-row explode per key — the standard SCD2
    MERGE plan; at 100 TB both sides shuffle once on c_custkey (or zero
    times if the dimension is bucketed on it, see scale.py)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("u_key"),
        F.lit("PROMOTED").alias("u_seg"),
        (F.col("c_acctbal") + 50.0).alias("u_bal"),
    )
    j = c.join(updates, c.c_custkey == updates.u_key, "left_outer")
    matched = F.col("u_key").isNotNull()

    def version(segment, bal, valid_from, valid_to, is_current):
        return F.struct(
            segment.alias("segment"),
            F.round(bal, 2).alias("bal"),
            valid_from.alias("valid_from"),
            valid_to.alias("valid_to"),
            is_current.alias("is_current"),
        )

    old_open = version(
        F.col("c_mktsegment"), F.col("c_acctbal"),
        F.lit("2024-01-01"), F.lit(None).cast("string"), F.lit(1),
    )
    old_closed = version(
        F.col("c_mktsegment"), F.col("c_acctbal"),
        F.lit("2024-01-01"), F.lit("2024-06-01"), F.lit(0),
    )
    new_open = version(
        F.col("u_seg"), F.col("u_bal"),
        F.lit("2024-06-01"), F.lit(None).cast("string"), F.lit(1),
    )
    versions = F.when(matched, F.array(old_closed, new_open)).otherwise(
        F.array(old_open)
    )
    return j.select(
        F.col("c_custkey").alias("key"), F.explode(versions).alias("v")
    ).select("key", "v.segment", "v.bal", "v.valid_from", "v.valid_to", "v.is_current")


# ---------------------------------------------------------------------------
# Sessionized funnel analysis
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sessions AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
), s1 AS (
  SELECT user_id, sess,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM sessions GROUP BY user_id, sess
), s2 AS (
  SELECT s.user_id, s.sess, s1.t_view,
         min(CASE WHEN s.event_type = 'click' AND s.ts >= s1.t_view
                  THEN s.ts END) AS t_click
  FROM sessions s JOIN s1 USING (user_id, sess)
  GROUP BY s.user_id, s.sess, s1.t_view
), s3 AS (
  SELECT s.user_id, s.sess, s2.t_view, s2.t_click,
         min(CASE WHEN s.event_type = 'purchase' AND s.ts >= s2.t_click
                  THEN s.ts END) AS t_purchase
  FROM sessions s JOIN s2 USING (user_id, sess)
  GROUP BY s.user_id, s.sess, s2.t_view, s2.t_click
)
SELECT count(*) AS n_sessions,
       count(t_view) AS reached_view,
       count(t_click) AS reached_click,
       count(t_purchase) AS reached_purchase
FROM s3
"""


@register("llm_sessionize_funnel", oracle=_FUNNEL_ORACLE, tier="T3")
def llm_sessionize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap, gaps-and-islands) followed
    by an ORDERED funnel: view → click-after-view → purchase-after-click
    within each session.

    Plan shape: one shuffle on user_id; the lag/running-sum windows and
    all three per-session stage minima share that partitioning, so
    Catalyst keeps them in one exchange.  The staged minima are computed
    as successive window columns (each stage conditions on the previous
    stage's column — expressible only sequentially), never a self-join.
    Output is the 1-row funnel summary."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
    sessions = e.withColumn(
        "new_sess", F.when(gap > 1800, 1).otherwise(0)
    ).withColumn(
        "sess",
        F.sum("new_sess").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = Window.partitionBy("user_id", "sess")
    staged = (
        sessions.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(per_sess),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(per_sess),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(per_sess),
        )
    )
    per_session = staged.groupBy("user_id", "sess").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH similarity search
# ---------------------------------------------------------------------------


@register("llm_simsearch_multiprobe", oracle=None, tier="T3")
def llm_simsearch_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-random-projection LSH: each probe searches its
    own bucket PLUS the n_planes buckets at Hamming distance 1 (one sign
    bit flipped) — the standard recall-recovery trick that lets bucket
    count grow (occupancy stay bounded) without the recall cliff of
    single-probe LSH.

    Candidate work per probe is (1 + n_planes) bucket joins' worth — still
    bucket-bounded, never corpus-sized.  Rows-only for the same reason as
    llm_simsearch_lsh (float-sign bucket membership is approximate by
    design); the recall ≥ single-probe invariant is pytest-asserted.
    Shares llm_simsearch_lsh's bucket_cosine_best, and with it the
    vector-validity and zero-norm exclusions."""
    from un_datapipeline_spark.operators.dedup_extras import (
        LSH_PLANES,
        bucket_cosine_best,
    )

    em = load_table(spark, sf_dir, "embeddings")
    return bucket_cosine_best(em, flip_bits=range(LSH_PLANES))


# ---------------------------------------------------------------------------
# Kafka-wire-format streaming source
# ---------------------------------------------------------------------------

_KAFKA_ORACLE = f"""
SELECT event_type, count(*) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total
FROM events
GROUP BY event_type
"""


def read_events_kafka_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A streaming DataFrame with the EXACT Kafka source wire schema
    (key/value binary, topic, partition, offset, timestamp).

    With SPARK_GRAFT_KAFKA_BOOTSTRAP set (and the spark-sql-kafka package
    on the classpath), reads the real broker.  Otherwise — this container
    has no broker — the file stream is serialized INTO the kafka wire
    shape: key = user_id bytes, value = JSON-encoded event bytes.  Either
    way downstream code sees the same schema, so swapping in a real
    broker changes nothing but this reader."""
    import os

    from un_datapipeline_spark.operators.streaming import read_events_stream

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if bootstrap:  # pragma: no cover - no broker in this container
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", "events")
            .option("startingOffsets", "earliest")
            .load()
        )
    s = read_events_stream(spark, sf_dir)
    payload = F.to_json(F.struct("event_id", "user_id", "event_type", "value", "props"))
    return s.select(
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
        F.encode(payload, "utf-8").alias("value"),
        F.lit("events").alias("topic"),
        F.pmod("user_id", F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )


@register("stream_kafka_source", oracle=_KAFKA_ORACLE, tier="T4")
def stream_kafka_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-source consume path: take the kafka wire schema, decode
    value bytes, parse the JSON payload against an explicit schema, and
    aggregate — the canonical broker-ingest topology.  The full
    serialize → wire → deserialize round trip is hash-matched against
    the batch oracle, proving the plumbing loses nothing."""
    from un_datapipeline_spark.operators.streaming import run_to_memory

    wire = read_events_kafka_shaped(spark, sf_dir)
    payload_schema = "event_id long, user_id long, event_type string, value double, props string"
    parsed = wire.select(
        F.from_json(F.decode("value", "utf-8"), payload_schema).alias("e")
    ).select("e.*")
    agg = parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (cents_sum() / 100.0).cast("double").alias("total"),
    )
    return run_to_memory(agg)


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup
# ---------------------------------------------------------------------------

# VARCHAR round-trip + NO output ROUND (r12 magneg catalog): sum(cents)
# is HUGEINT — its naked →DOUBLE conversion MIS-ROUNDS negatives past
# 2^53 — and ROUND(x,2) is ill-defined once |total| ulp > 1e-2.
_ROLLUP_ORACLE = f"""
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
         {cents_sql("value")} AS cents
  FROM events
)
SELECT '15min' AS grain,
       date_trunc('hour', ts) + INTERVAL 15 MINUTE
         * CAST(floor(minute(ts) / 15) AS INT) AS bucket,
       event_type, count(*) AS n,
       {exact_double_sql("sum(cents)")} / 100.0 AS total
FROM base GROUP BY bucket, event_type
UNION ALL
SELECT '1hour', date_trunc('hour', ts), event_type, count(*),
       {exact_double_sql("sum(cents)")} / 100.0
FROM base GROUP BY 2, 3
UNION ALL
SELECT '1day', date_trunc('day', ts), event_type, count(*),
       {exact_double_sql("sum(cents)")} / 100.0
FROM base GROUP BY 2, 3
"""


@register("ts_multires_rollup", oracle=_ROLLUP_ORACLE, tier="T3")
def ts_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: 15-min, 1-hour and
    1-day grains in ONE pass.  The finest grain is aggregated from raw
    events; the coarser grains re-aggregate the 15-min partials
    (hour/day boundaries are exact supersets of 15-min buckets), so raw
    data is scanned exactly once and the coarse rollups run on the tiny
    intermediate — the cascade that keeps a 100 TB hypertable refresh
    O(finest-grain cardinality), not O(events), above the first level.
    Money sums ride the exact integer-cent lane (ROUND_NOTES.md)."""
    e = load_table(spark, sf_dir, "events")
    fine = (
        e.select(
            F.col("ts"),
            "event_type",
            cents_col("value").alias("cents"),
        )
        .groupBy(
            (
                F.date_trunc("hour", "ts")
                + F.make_interval(mins=(F.floor(F.minute("ts") / 15) * 15).cast("int"))
            ).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    hour = fine.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    day = fine.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))

    def finish(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            "event_type",
            "n",
            # unrounded (see oracle note): ill-defined ROUND at wide
            # magnitudes; the single division matches the oracle's
            # VARCHAR-converted sum bit-for-bit
            (F.col("cents") / 100.0).alias("total"),
        )

    return (
        finish(fine, "15min")
        .unionByName(finish(hour, "1hour"))
        .unionByName(finish(day, "1day"))
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering (connected components over dup edges)
# ---------------------------------------------------------------------------

# The dup-edge graph and its min-label components (_dup_edges +
# connected_components), shared by the cluster and canonical oracles.
_DUP_LABELS_SQL = f"""grams AS ({doc_trigrams_sql()}
), overlap AS ({gram_overlap_sql("grams", ALL_PAIRS)}
), jedges AS (SELECT a, b FROM overlap WHERE {JACCARD} >= 0.5),
hashes AS (SELECT doc_id, md5(text) AS h FROM documents),
medges AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM hashes x JOIN hashes y ON x.h = y.h AND x.doc_id < y.doc_id
), edges AS (SELECT a, b FROM jedges UNION SELECT a, b FROM medges),
bidir AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(node, label) AS (
  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM bidir)
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN bidir e ON e.a = r.node
), labeled AS (
  SELECT node, min(label) AS rep FROM reach GROUP BY node
)"""

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_DUP_LABELS_SQL}
SELECT rep, CAST(count(*) AS BIGINT) AS n_docs
FROM labeled GROUP BY rep
"""


def _dup_edges(d: DataFrame) -> DataFrame:
    """Undirected dup edges (a < b): exact (md5-equal) ∪ word-3-gram
    Jaccard ≥ 0.5.  The gram-equality join is vocabulary-keyed (meets
    only docs sharing a trigram) — the same sub-quadratic shape as
    llm_dedup_ngram_jaccard, here without the probe bound because
    clustering needs the full edge set.  The gram SIGNATURES are
    prefix-capped (bounded-prefix contract, tables.capped_text) — the
    exact-md5 edge lane stays whole-document."""
    grams = doc_trigrams(d)
    jedges = (
        gram_overlap(grams, ALL_PAIRS).filter(F.expr(JACCARD) >= 0.5).select("a", "b")
    )
    hashes = d.select("doc_id", F.md5("text").alias("h"))
    medges = scale.co_occurrence(hashes, "doc_id", ["h"], ALL_PAIRS).select("a", "b")
    return jedges.union(medges).distinct()


# Size gate between the two connected_components paths: dup-edge graphs
# are a tiny fraction of the corpus (only docs with a candidate pair — 256
# edges for 60k docs at sf0.1), but every distributed round costs ~1 s of
# fixed job-scheduling/checkpoint overhead × diameter rounds.  At or below
# this many undirected edges, exact union-find runs on the driver: the
# collect is BOUNDED by the constant (never grows with corpus size), and
# the min-label fixpoint is unique, so both paths return bit-identical
# labels.  Above it, the iterative key-partitioned propagation is the
# path that scales to any graph.
CC_LOCAL_EDGES = 200_000


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, label) with label = min node id in the component, by
    iterative min-label propagation over undirected edges (a, b).

    Runs in the shared iteration scope (session.iteration_scope): the
    edge graph is a tiny fraction of the corpus (only docs with a dup
    candidate), and every iteration pays per-partition task overhead ×
    rounds — 200 near-empty tasks per round dominated the runtime at test
    scale (15 s → 3 s with the pinned width)."""
    spark = edges.sparkSession
    with iteration_scope(spark):
        # Materialize the edge list ONCE before mirroring: the union has
        # two branches over the same (expensive — n-gram shuffle) edge
        # plan, and without this checkpoint the materialization of
        # `bidir` executes that plan twice (measured ~2× the edge-build
        # cost at sf0.1).
        edges = edges.transform(ckpt())
        bidir = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).transform(ckpt())

        if bidir.count() <= 2 * CC_LOCAL_EDGES:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in bidir.collect():
                a, b = r[0], r[1]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for n in parent:
                r = find(n)
                comp_min[r] = min(comp_min.get(r, n), n)
            node_t = edges.schema["a"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("node", node_t, False),
                    T.StructField("label", node_t, False),
                ]
            )
            return spark.createDataFrame(
                [(n, comp_min[find(n)]) for n in sorted(parent)], out_schema
            )

        labels = (
            bidir.select(F.col("a").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .transform(ckpt())
        )
        prev_sum = None
        for _ in range(20):  # hard safety cap; rounds needed = diameter
            prop = bidir.join(labels, bidir.a == labels.node).select(
                F.col("b").alias("node"), "label"
            )
            labels = (
                labels.union(prop)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .transform(ckpt())
            )
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        return labels


@register("llm_dedup_cluster", oracle=_CLUSTER_ORACLE, tier="T3")
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS via connected components over the dup-edge
    graph — the step after pair generation that an actual dedup pass
    needs (pick ONE canonical doc per group; pairs alone can't, because
    near-dup relations chain: A~B~C with A≁C must collapse together).

    Components by iterative min-label propagation: each round every node
    takes the min label among itself and its neighbors; converged when
    the global label sum stops changing (sum is monotone non-increasing,
    so equality ⇔ fixpoint — one cheap scalar action per round, the
    standard driver-side convergence test for iterative algorithms).
    localCheckpoint truncates lineage each round, else the plan doubles
    per iteration.  Rounds needed = component diameter (small for dup
    clusters); 20 is a hard safety cap.  Oracle: DuckDB recursive-CTE
    transitive closure — both engines converge to min-reachable-id, so
    the fixpoint is engine-independent and hash-matched."""
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(_dup_edges(d))
    return labels.groupBy(F.col("label").alias("rep")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling
# ---------------------------------------------------------------------------

_SAMPLE_HASH_ORACLE = """
SELECT o_orderstatus, count(*) AS n_sampled,
       ROUND(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '28'
GROUP BY o_orderstatus
"""


@register("etl_sample_hash", oracle=_SAMPLE_HASH_ORACLE, tier="T2")
def etl_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~16% sample via content hash: keep rows whose
    md5(key) hex prefix ≤ '28' (0x00–0x28 of 0x00–0xff).  Unlike
    sample()/TABLESAMPLE, hash gating is reproducible across engines,
    runs, partitionings AND cluster sizes — the property a training-data
    split pipeline actually needs (etl_train_split uses the same trick;
    this operator exposes it as tunable-rate row sampling).  The filter
    is a pure Column expression, evaluated scan-side."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "28")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) aggregate
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
SELECT l_returnflag, mode_qty, n FROM (
  SELECT l_returnflag, l_quantity AS mode_qty, CAST(count(*) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY count(*) DESC, l_quantity ASC) AS rn
  FROM lineitem GROUP BY l_returnflag, l_quantity
) WHERE rn = 1
"""


@register("agg_mode", oracle=_MODE_ORACLE, tier="T2")
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode of l_quantity per returnflag with a DETERMINISTIC tie-break
    (highest count, then smallest value) — built-in mode() leaves ties
    engine-defined, so it can never hash-match; count+rank does, and its
    first phase is a partial-aggregable groupBy (the heavy reduction
    happens map-side; the rank runs on |groups| rows, not |rows|)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", F.col("l_quantity").alias("mode_qty")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), F.asc("mode_qty"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_qty", "n")
    )


# ---------------------------------------------------------------------------
# Salted skew join as a first-class operator
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register("join_skew_salted", oracle=_SKEW_ORACLE, tier="T2")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join (scale.salted_join) exposed as an operator:
    orders⋈customer with the orders side salted over 8 sub-keys and
    customer replicated 8× — the plan that survives a power-law customer
    (one hot key otherwise lands an entire reducer's worth of rows on a
    single task).  Results are provably identical to the plain join —
    that IS the oracle — so this is hash-matched, and the salted plan
    shape is additionally asserted in tests/test_scale.py."""
    from un_datapipeline_spark.scale import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "o_custkey", "c_custkey", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# SCD2 incremental maintenance (second change batch onto the history)
# ---------------------------------------------------------------------------

_SCD2_INCR_ORACLE = """
WITH updates AS (
  SELECT c_custkey AS u_key, 'PROMOTED' AS u_seg, c_acctbal + 50.0 AS u_bal
  FROM customer WHERE c_custkey % 10 = 0
), j AS (
  SELECT c.c_custkey AS key, c.c_mktsegment AS seg, c.c_acctbal AS bal,
         u.u_key, u.u_seg, u.u_bal
  FROM customer c LEFT JOIN updates u ON c.c_custkey = u.u_key
), hist AS (
  SELECT key, seg AS segment, ROUND(bal, 2) AS bal,
         '2024-01-01' AS valid_from,
         CASE WHEN u_key IS NOT NULL THEN '2024-06-01' END AS valid_to,
         CASE WHEN u_key IS NULL THEN 1 ELSE 0 END AS is_current
  FROM j
  UNION ALL
  SELECT key, u_seg, ROUND(u_bal, 2), '2024-06-01', NULL, 1
  FROM j WHERE u_key IS NOT NULL
), b2 AS (
  SELECT c_custkey AS u2 FROM customer WHERE c_custkey % 15 = 0
), h2 AS (
  SELECT h.*, b2.u2 FROM hist h
  LEFT JOIN b2 ON h.key = b2.u2 AND h.is_current = 1
)
SELECT key, segment, bal, valid_from,
       CASE WHEN u2 IS NOT NULL THEN '2024-09-01' ELSE valid_to END AS valid_to,
       CASE WHEN u2 IS NOT NULL THEN 0 ELSE is_current END AS is_current
FROM h2
UNION ALL
SELECT key, 'VIP', ROUND(bal + 25, 2), '2024-09-01', NULL, 1
FROM h2 WHERE u2 IS NOT NULL
"""


@register("etl_scd2_incremental", oracle=_SCD2_INCR_ORACLE, tier="T2")
def etl_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly SCD2 run: apply a SECOND change batch (every 15th
    customer → VIP, +25 on their current balance) onto the history that
    etl_scd2_snapshot built.  Keys divisible by 30 accrue three versions
    — the chained case that proves the maintenance is repeatable, not a
    one-shot.  Join condition targets CURRENT rows only (history ⋈ batch
    ON key AND is_current), so closed versions pass through untouched;
    at 100 TB this is one join keyed on the business key against a
    current-rows partition."""
    hist = etl_scd2_snapshot(spark, sf_dir)
    b2 = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 15 == 0)
        .select(F.col("c_custkey").alias("u2"))
    )
    h2 = hist.join(
        b2, (hist.key == b2.u2) & (hist.is_current == 1), "left_outer"
    )
    hit = F.col("u2").isNotNull()
    carried = h2.select(
        "key",
        "segment",
        "bal",
        "valid_from",
        F.when(hit, F.lit("2024-09-01")).otherwise(F.col("valid_to")).alias("valid_to"),
        F.when(hit, F.lit(0)).otherwise(F.col("is_current")).alias("is_current"),
    )
    opened = h2.filter(hit).select(
        "key",
        F.lit("VIP").alias("segment"),
        F.round(F.col("bal") + 25, 2).alias("bal"),
        F.lit("2024-09-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return carried.unionByName(opened)


# ---------------------------------------------------------------------------
# Regex entity extraction over documents
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT doc_id,
       CAST(len(caps) AS BIGINT) AS n_caps,
       coalesce(array_to_string(list_sort(caps), '|'), '') AS caps,
       CAST(regexp_matches(text, '[0-9]') AS INT) AS has_digit
FROM (
  SELECT doc_id, text,
         list_distinct(regexp_extract_all(text, '[A-Z][a-z]{3,}')) AS caps
  FROM documents
)
"""


@register("fn_regex_extract", oracle=_REGEX_ORACLE, tier="T2")
def fn_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex ENTITY EXTRACTION (vs fn_string's single-match extract):
    all distinct capitalized words ≥4 letters per doc via
    regexp_extract_all, plus a digit-presence flag — the pattern-mining
    pass of a text-cleaning pipeline, all JVM-side Column math.  The
    pattern uses POSIX-common syntax only (Java regex vs RE2 agree);
    the list output is sorted and pipe-joined on BOTH sides
    (ROUND_NOTES.md: raw arrays crash the driver's canonicalizer)."""
    d = load_table(spark, sf_dir, "documents")
    caps = F.array_distinct(
        F.regexp_extract_all("text", F.lit("[A-Z][a-z]{3,}"), 0)
    )
    return d.select(
        "doc_id",
        F.size(caps).cast("long").alias("n_caps"),
        # coalesce('') mirrors the oracle (round 9, class 4): for a NULL
        # text Spark's array_join(NULL) is NULL while the oracle's
        # coalesce renders '' — the serialized-list lane is defined as
        # always-a-string on both sides (n_caps stays NULL, flagging the
        # missing doc).
        F.coalesce(F.array_join(F.array_sort(caps), "|"), F.lit("")).alias(
            "caps"
        ),
        F.col("text").rlike("[0-9]").cast("int").alias("has_digit"),
    )


# ---------------------------------------------------------------------------
# Approximate percentiles (sketch-based)
# ---------------------------------------------------------------------------


@register("agg_approx_percentile", oracle=None, tier="T2")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile over l_extendedprice per returnflag — the
    mergeable-sketch path for quantiles at 100 TB where exact
    percentile_cont would sort the world.  Rows-only (sketch internals
    are engine-specific); the ≤1%-of-exact error invariant is
    pytest-asserted against agg_percentile_exact's method."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias("pcts")
    ).select(
        "l_returnflag",
        F.round(F.element_at("pcts", 1), 2).alias("p50"),
        F.round(F.element_at("pcts", 2), 2).alias("p90"),
        F.round(F.element_at("pcts", 3), 2).alias("p99"),
    )
# ---------------------------------------------------------------------------
# RAG document chunking
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = """
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), 40)) AS start
  FROM toked
)
SELECT doc_id,
       CAST((start - 1) / 40 AS BIGINT) AS chunk_id,
       CAST(len(toks[start : start + 49]) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[start : start + 49], ' ')) AS chunk_md5
FROM starts
"""


@register("llm_doc_chunking", oracle=_CHUNK_ORACLE, tier="T3")
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunker: split each document into 50-token chunks with a
    10-token overlap (stride 40) — one output row per chunk, identified
    by (doc_id, chunk_id) with an md5 fingerprint of the chunk text.
    Pure Column math (sequence + posexplode-free slice per start), so
    chunking 100 TB is a single stateless scan with ~len/stride output
    amplification and zero shuffles.

    Round-12 linearization: the previous shape exploded the start
    indices FIRST and sliced the array column after — every exploded
    row materializes its own copy of the full token array (the
    documented explode-then-slice trap, ngram_array docstring), so one
    80k-token doc paid len/40 × len element copies (measured 16 s on
    the bigdoc catalog).  The chunk structs are now built INSIDE a
    transform over the starts — `toks` in the lambda body is a bound
    row reference (O(1) to read, never re-evaluated) and each slice
    copies only its 50 elements, so the per-doc cost is ~2.5× len."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(40))

    def chunk(s):
        return F.slice(toks, s, 50)

    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / 40).cast("long").alias("chunk_id"),
            F.size(chunk(s)).cast("long").alias("n_tokens"),
            F.md5(F.array_join(chunk(s), " ")).alias("chunk_md5"),
        ),
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_md5"
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

_PII_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || doc_id || '@example.com ph 555-0142'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM seeded
"""


@register("llm_pii_redact", oracle=_PII_ORACLE, tier="T3")
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email/phone patterns.  The
    corpus has no organic PII, so every 10th doc is seeded with a
    deterministic fake email+phone first — the redaction then has real
    work whose counts and redacted-text fingerprints hash-match.
    Patterns stay in the POSIX-common subset (Java regex and RE2 agree);
    everything is JVM-side Column math."""
    d = load_table(spark, sf_dir, "documents")
    seeded = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ph 555-0142"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return (
        d.select("doc_id", seeded.alias("text"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
            .cast("long")
            .alias("n_emails"),
            F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
            .cast("long")
            .alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Value-change streaks (islands by value, not time gap)
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS island
  FROM events
), streaks AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS streak
  FROM ordered GROUP BY user_id, event_type, island
)
SELECT user_id, event_type, max(streak) AS max_streak
FROM streaks GROUP BY user_id, event_type
"""


@register("win_streaks", oracle=_STREAK_ORACLE, tier="T2")
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-event-type run per user — the OTHER
    gaps-and-islands (value-change islands, vs llm_sessionize_funnel's
    time-gap islands): island id = global row_number minus per-type
    row_number.  Both windows and both aggregations share the user_id
    partitioning, so the whole operator is one shuffle."""
    e = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    island = F.row_number().over(w_all) - F.row_number().over(w_type)
    return (
        e.select("user_id", "event_type", island.alias("island"))
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).alias("streak"))
        .groupBy("user_id", "event_type")
        .agg(F.max("streak").alias("max_streak"))
    )


# ---------------------------------------------------------------------------
# Bigram language-model statistics
# ---------------------------------------------------------------------------

_NGRAM_LM_ORACLE = """
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bigrams AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM toked, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
  )
  WHERE toks[i] <> '' AND toks[i+1] <> ''
), counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM bigrams GROUP BY w1, w2
), totals AS (
  SELECT w1, sum(n) AS total FROM counts GROUP BY w1
), top_heads AS (
  SELECT w1 FROM totals ORDER BY total DESC, w1 ASC LIMIT 20
)
SELECT c.w1, c.w2, c.n,
       ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS p
FROM counts c
JOIN totals t USING (w1)
JOIN top_heads USING (w1)
QUALIFY row_number() OVER (PARTITION BY c.w1 ORDER BY c.n DESC, c.w2 ASC) <= 3
"""


@register("llm_ngram_lm", oracle=_NGRAM_LM_ORACLE, tier="T3")
def llm_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: P(w2 | w1) = n(w1,w2)/n(w1),
    reported as the top-3 continuations for the 20 most frequent head
    words (deterministic tie-breaks: count desc then word asc).  All
    shuffles are keyed by VOCABULARY (w1 / bigram), never by corpus —
    the count tables a quality-filtering LM needs at 100 TB are a few
    million rows regardless of input size.  The probability is one
    division of two exact integer counts, so it is bit-identical across
    engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = F.filter(
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: (s["w1"] != "") & (s["w2"] != ""),
    )
    bigrams = d.select(F.explode(pairs).alias("bg")).select("bg.w1", "bg.w2")
    counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("w1").agg(F.sum("n").alias("total"))
    top_heads = totals.orderBy(F.desc("total"), F.asc("w1")).limit(20).select("w1")
    w = Window.partitionBy("w1").orderBy(F.desc("n"), F.asc("w2"))
    return (
        counts.join(totals, "w1")
        .join(F.broadcast(top_heads), "w1")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "w1",
            "w2",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p"),
        )
    )


# ---------------------------------------------------------------------------
# Canonical-document selection over dup clusters
# ---------------------------------------------------------------------------

_CANONICAL_ORACLE = f"""
WITH RECURSIVE {_DUP_LABELS_SQL}, ranked AS (
  SELECT l.rep, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY l.rep
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         count(*) OVER (PARTITION BY l.rep) AS n_docs
  FROM labeled l JOIN documents d ON d.doc_id = l.node
)
SELECT rep, doc_id AS canonical_doc, CAST(n_chars AS BIGINT) AS canonical_chars,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
"""


@register("llm_canonical_select", oracle=_CANONICAL_ORACLE, tier="T3")
def llm_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that completes dedup: inside each near-dup cluster
    (connected components over the exact ∪ Jaccard≥0.5 edge graph), keep
    ONE canonical document — the longest variant, ties to the lowest
    doc_id — and count what gets dropped.  This is the keep-policy
    RefinedWeb/C4-style pipelines apply after clustering.

    Scale shape: reuses the sub-quadratic edge builder and the
    iterative min-label components (see llm_dedup_cluster); the
    selection itself is one window over cluster-sized partitions.  The
    SQL oracle replays the whole chain with a recursive CTE."""
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components(_dup_edges(d))
    ranked = labels.join(d, labels.node == d.doc_id).select(
        F.col("label").alias("rep"), "doc_id", "n_chars"
    )
    w = Window.partitionBy("rep").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("rep")
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "rep",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
            "n_docs",
            (F.col("n_docs") - 1).cast("long").alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar-dimension rollup
# ---------------------------------------------------------------------------

_CALENDAR_ORACLE = f"""
SELECT quarter(ts)                              AS qtr,
       weekofyear(ts)                           AS iso_week,
       isodow(ts)                               AS iso_dow,
       CAST(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend,
       CAST(count(*) AS BIGINT)                 AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total_value
FROM events
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2, 3
"""


@register("ts_calendar_rollup", oracle=_CALENDAR_ORACLE, tier="T2")
def ts_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-feature rollup (quarter / ISO week / ISO weekday /
    weekend flag) — the derived time dimensions every BI layer and
    seasonality model group by.  Engine gotcha, probed and papered over:
    Spark's dayofweek is Sunday=1 while DuckDB's isodow is Monday=1, so
    the ISO weekday is derived as ((dayofweek+5) % 7) + 1; weekofyear
    and quarter agree natively.  Pure expression derivation into a
    calendar-bounded groupBy (≤ 4×53×7 groups regardless of data scale
    — map-side combine collapses everything before the shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        ev.select(
            F.quarter("ts").alias("qtr"),
            F.weekofyear("ts").alias("iso_week"),
            iso_dow.alias("iso_dow"),
            F.when(iso_dow >= 6, 1).otherwise(0).cast("int").alias("is_weekend"),
            "value",
        )
        .groupBy("qtr", "iso_week", "iso_dow", "is_weekend")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total_value"),
        )
        .orderBy("qtr", "iso_week", "iso_dow")
    )


# ---------------------------------------------------------------------------
# Event-sequence pattern matching (CEP-lite)
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events
  GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT)                                   AS n_users,
       CAST(count(*) FILTER (regexp_matches(s, 'v.*c.*p')) AS BIGINT)
         AS funnel_vcp,
       CAST(count(*) FILTER (regexp_matches(s, 'vcp')) AS BIGINT)
         AS strict_vcp,
       CAST(count(*) FILTER (regexp_matches(s, 'ee')) AS BIGINT)  AS double_err,
       CAST(sum(length(regexp_replace(s, '[^p]', '', 'g'))) AS BIGINT)
         AS total_purchases
FROM seq
"""


@register("win_event_pattern", oracle=_PATTERN_ORACLE, tier="T2")
def win_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite event-sequence patterns: each user's ordered
    event history collapses to a symbol string (one char per event,
    (ts, event_id)-ordered so it's deterministic), and sequence
    questions become regexes — eventual funnel v.*c.*p, STRICT
    adjacency vcp (view, click, purchase with nothing between — the
    contiguity constraint windows can't express without N self-joins),
    repeated-error runs.  This is how sequence analytics scales on
    Spark without a CEP engine: ONE shuffle keyed by user collapses the
    history; per-user strings are session-bounded; regexes run
    data-parallel on the collapsed rows.  listagg WITHIN GROUP gives
    the ordered concatenation JVM-side.

    Empty-relation contract (round 10, R10_EMPTY_PLAN class 2): the
    match counters are COUNTs — 0 over a zero-row day-one corpus, not a
    NULL-valued SUM of indicators (count_if ↔ the oracle's count
    FILTER; probed: Spark NaN vs oracle 0).  total_purchases is a true
    measure SUM and stays NULL-on-empty on BOTH sides — SQL's answer
    for the sum of nothing."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.substring("event_type", 1, 1).alias("c"),
            "ts",
            "event_id",
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "listagg(c, '') WITHIN GROUP (ORDER BY ts, event_id)"
            ).alias("s")
        )
    )
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("s").rlike("v.*c.*p")).alias("funnel_vcp"),
        F.count_if(F.col("s").rlike("vcp")).alias("strict_vcp"),
        F.count_if(F.col("s").rlike("ee")).alias("double_err"),
        F.sum(F.length(F.regexp_replace("s", "[^p]", ""))).cast("long").alias(
            "total_purchases"
        ),
    )


_TRANSITION_ORACLE = """
WITH step AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 6)
         AS p
FROM step
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""


@register("ts_transition_matrix", oracle=_TRANSITION_ORACLE, tier="T2")
def ts_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    P(next event type | current), from lead() pairs per user — the
    behavioral fingerprint behind next-action prediction and bot
    detection.  One window shuffle keyed by user builds the bigrams;
    the count rollup is domain-bounded (|types|² rows); the row
    probability is count/row-total via a window over the tiny
    aggregated matrix — int/int division, engine-exact.  The
    (ts, event_id) order key is unique per user, pinning every
    transition pair across engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    step = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = step.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") * 1.0 / F.sum("n").over(wrow), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition (trend + day-of-week seasonal + residual)
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS total_c
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)
), trended AS (
  -- exact-rational lane: the centered window mean has denominator
  -- n IN 4..7, so the detrended series is kept as the EXACT integer
  -- (n*total_c - s) * (420/n)  (420 = lcm(4..7)), 128-bit; every
  -- output is then ONE double division of exact integers — a float
  -- avg() of detrended values would be accumulation-order-dependent
  -- (magnitude-v2 contract)
  SELECT event_type, d, total_c,
         CAST(sum(total_c) OVER w AS BIGINT) AS s,
         CAST(count(*) OVER w AS BIGINT) AS n,
         (CAST(count(*) OVER w AS HUGEINT) * total_c
          - CAST(sum(total_c) OVER w AS HUGEINT))
           * (420 // count(*) OVER w) AS detr420
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), seasonal AS (
  SELECT *,
         sum(detr420) OVER ws AS seas_num,
         CAST(count(*) OVER ws AS BIGINT) AS seas_cnt
  FROM trended
  WINDOW ws AS (PARTITION BY event_type, isodow(d))
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       total_c / 100.0                       AS observed,
       CAST(s AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS trend,
       CAST(CAST(seas_num AS VARCHAR) AS DOUBLE)
         / CAST(seas_cnt * 42000 AS DOUBLE)  AS seasonal,
       CAST(CAST(detr420 * seas_cnt - seas_num AS VARCHAR) AS DOUBLE)
         / CAST(seas_cnt * 42000 AS DOUBLE)  AS residual
FROM seasonal
ORDER BY event_type, day
"""


@register("ts_seasonal_decompose", oracle=_SEASONAL_ORACLE, tier="T3")
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of each event type's
    daily revenue series: trend = centered 7-day moving mean, seasonal
    = day-of-week mean of the detrended series, residual = the rest —
    the decomposition behind anomaly baselines and capacity forecasts.
    All series math runs on EXACT integer cents until the final
    divisions, whose denominators are bounded (window length ≤ 7 ×
    ≤5 weekday samples), putting every true value ≥ 1/(2·35)·10⁻⁶ away
    from a rounding boundary — double noise (~10⁻¹²) can't flip the
    6dp round (ROUND_NOTES float policy, extended to rationals).
    Scale shape: the daily rollup is calendar-bounded per type; both
    windows partition by event_type (tiny, re-shuffles nothing heavy);
    at 100 TB the heavy lifting is the first groupBy's map-side
    combine over raw events."""
    ev = load_table(spark, sf_dir, "events")
    cents = cents_col("value")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(cents).alias("total_c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    # exact-rational lane (mirrors the oracle comment): detrended values
    # are EXACT integers scaled by 420 = lcm(4..7) in DECIMAL(38,0)
    # (oracle: HUGEINT); each output is one double division of exact
    # integers, so both engines emit identical doubles at ANY surviving
    # magnitude.  A float avg() over the detrended series would be
    # accumulation-order-dependent (magnitude-v2 contract).
    n_w = F.count(F.lit(1)).over(w)
    s_w = F.sum("total_c").over(w)
    detr420 = (
        n_w.cast("decimal(38,0)") * F.col("total_c")
        - s_w.cast("decimal(38,0)")
    ) * F.expr("420 DIV count(1) OVER (PARTITION BY event_type ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)")
    trended = daily.select(
        "event_type",
        "d",
        "total_c",
        s_w.alias("s"),
        n_w.cast("long").alias("n"),
        detr420.alias("detr420"),
    )
    iso_dow = (F.dayofweek("d") + 5) % 7 + 1
    w_seas = Window.partitionBy("event_type", iso_dow)
    seasonal = trended.withColumn(
        "seas_num", F.sum("detr420").over(w_seas)
    ).withColumn("seas_cnt", F.count(F.lit(1)).over(w_seas).cast("long"))
    return seasonal.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("total_c") / 100.0).alias("observed"),
        (
            F.col("s").cast("double")
            / (F.col("n") * 100).cast("double")
        ).alias("trend"),
        (
            F.col("seas_num").cast("double")
            / (F.col("seas_cnt") * 42000).cast("double")
        ).alias("seasonal"),
        (
            (
                F.col("detr420") * F.col("seas_cnt").cast("decimal(38,0)")
                - F.col("seas_num")
            ).cast("double")
            / (F.col("seas_cnt") * 42000).cast("double")
        ).alias("residual"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Rolling correlation from integer window moments
# ---------------------------------------------------------------------------

_ROLLCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT)                                 AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), mo AS (
  SELECT event_type, d,
         count(*)   OVER w AS n,
         sum(x)     OVER w AS sx,
         sum(y)     OVER w AS sy,
         sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
         sum(y * y) OVER w AS syy,
         sum(CAST(x AS HUGEINT) * y) OVER w AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n,
       -- VARCHAR round-trip per term (tables.exact_double_sql): the
       -- window sums are HUGEINT, so `* 1.0` would promote the whole
       -- expression to exact DECIMAL (more accurate than Spark's
       -- convert-at-term doubles) and CAST(HUGEINT AS DOUBLE) would
       -- truncate — same conversion as ts_cross_correlation_lagged
       ROUND(CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
             / nullif(sqrt(CAST(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)), 0), 6)
         AS roll_corr
FROM mo
WHERE n >= 3
ORDER BY event_type, day
"""


@register("win_rolling_corr", oracle=_ROLLCORR_ORACLE, tier="T2")
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling Pearson correlation between each event
    type's daily revenue and daily event count — the does-volume-track-
    value drift signal.  No corr() window exists in either engine over
    arbitrary frames, so it's assembled from SIX integer window moments
    (n, Σx, Σy, Σx², Σy², Σxy over exact cents/counts; all < 2^53) and
    one closed-form expression — identical operands, identical double
    result on both engines, no accumulation-order exposure.  The frame
    is row-bounded (7) and partitions are calendar×type-bounded; at
    100 TB the daily rollup's map-side combine does all heavy lifting."""
    ev = load_table(spark, sf_dir, "events")
    cents = cents_col("value")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("x"), F.count(F.lit(1)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    # x² and x·y ride DECIMAL(38,0) (oracle: HUGEINT): one surviving
    # near-bound daily total overflows int64 per-element
    # (magnitude-v2 contract); y² stays long (counts are small).
    x_d = F.col("x").cast("decimal(38,0)")
    mo = daily.select(
        "event_type",
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(x_d * x_d).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(x_d * F.col("y")).over(w).alias("sxy"),
    )
    # each moment term evaluates EXACTLY in DECIMAL(38,0) and converts
    # to double ONCE (BigDecimal→double is correctly rounded), mirrored
    # in the oracle by the per-term VARCHAR round-trip — the earlier
    # `sx * 1.0` double math diverged from the oracle's exact-DECIMAL
    # promotion once the raised 9e15 ingest bound pushed the moments
    # past 2^53 (ADVICE r11; same shape as ts_cross_correlation_lagged)
    sx_dec = F.col("sx").cast("decimal(38,0)")
    sy_dec = F.col("sy").cast("decimal(38,0)")
    num = (F.col("n") * F.col("sxy") - sx_dec * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - sx_dec * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - sy_dec * F.col("sy")).cast("double")
    )
    return (
        mo.filter(F.col("n") >= 3)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n",
            # zero-variance windows (constant series, seen at sf0.001)
            # are undefined correlation → NULL, not an ANSI div-by-zero
            F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("roll_corr"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Day-over-day deltas and share-of-total windows
# ---------------------------------------------------------------------------

_DOD_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       c / 100.0 AS revenue,
       (c - lag(c) OVER w) / 100.0 AS delta,
       CAST(c - lag(c) OVER w AS DOUBLE)
         / NULLIF(lag(c) OVER w, 0) AS pct_change
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY d)
ORDER BY event_type, day
"""


@register("ts_day_over_day", oracle=_DOD_ORACLE, tier="T2")
def ts_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue delta and percent change per event type —
    the first derivative every metrics dashboard plots.  Daily totals
    are exact integer cents; delta is an integer difference and the
    percent change one division of identical integers on both engines.
    First day per series yields NULLs (no lag), preserved as NULL on
    both sides.  A ZERO-total base day (legitimately zero revenue, or
    every measurement on it voided by the ingest contract — the
    --magnitude sweep's 1e-300 stripe rounds to 0 cents) makes percent
    change undefined: NULLIF guards the division on both sides (ANSI
    Spark would crash, DuckDB quietly NULLs — pin the NULL).  One
    calendar-bounded rollup + one lag window sharing the event_type
    partitioning."""
    ev = load_table(spark, sf_dir, "events")
    cents = cents_col("value")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    prev = F.lag("c").over(w)
    # unrounded single divisions of exact integers: ROUND at corrupt
    # magnitudes is ill-defined — the engines pick different nearest
    # doubles (magnitude-v2 contract)
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("c") / 100.0).alias("revenue"),
        ((F.col("c") - prev) / 100.0).alias("delta"),
        (
            (F.col("c") - prev).cast("double") / F.nullif(prev, F.lit(0))
        ).alias("pct_change"),
    ).orderBy("event_type", "day")


_SHARE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(c AS DOUBLE)
         / NULLIF(CAST(sum(c) OVER (PARTITION BY d) AS BIGINT), 0)
         AS share_of_day,
       CAST(c AS DOUBLE)
         / NULLIF(CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT), 0)
         AS share_of_type,
       CAST(CAST(sum(c) OVER (PARTITION BY event_type ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
         / NULLIF(CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT), 0)
         AS cum_share
FROM daily
ORDER BY event_type, day
"""


@register("win_share_of_total", oracle=_SHARE_ORACLE, tier="T2")
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total windows along two axes plus a cumulative share —
    each day's slice of its type, each type's slice of its day, and the
    running fraction of the series completed (the pacing curve).  All
    numerators/denominators are exact integer cent sums; each share is
    ONE division of identical integers, so both engines produce
    bit-identical doubles.  Three window specs over the tiny daily
    rollup; the raw-event heavy lifting happens once in the map-side
    combined groupBy."""
    ev = load_table(spark, sf_dir, "events")
    cents = cents_col("value")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(cents).alias("c")
    )
    w_day = Window.partitionBy("d")
    w_type = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULLIF: a type/day whose measurements cancel to exactly 0 cents
    # (the --magnitude corpus) has an undefined share — ANSI Spark
    # would crash where DuckDB NULLs.  Unrounded single divisions of
    # exact integers (magnitude-v2 contract).
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (
            F.col("c").cast("double")
            / F.nullif(F.sum("c").over(w_day), F.lit(0))
        ).alias("share_of_day"),
        (
            F.col("c").cast("double")
            / F.nullif(F.sum("c").over(w_type), F.lit(0))
        ).alias("share_of_type"),
        (
            F.sum("c").over(w_cum).cast("double")
            / F.nullif(F.sum("c").over(w_type), F.lit(0))
        ).alias("cum_share"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE with value-based DEFINE and per-match MEASURES
# ---------------------------------------------------------------------------

_MATCH_RECOGNIZE_ORACLE = """
WITH seqd AS (
  SELECT user_id, value, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         lag(value)   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM events
),
dirs AS (
  SELECT user_id, value, event_id, seq,
         CASE WHEN pv IS NULL THEN 'S'
              WHEN value < pv THEN 'D'
              WHEN value > pv THEN 'U'
              ELSE 'F' END AS dir
  FROM seqd
),
flagged AS (
  SELECT *, CASE WHEN dir = lag(dir) OVER (PARTITION BY user_id ORDER BY seq)
                 THEN 0 ELSE 1 END AS brk
  FROM dirs
),
runs AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY seq
                        ROWS UNBOUNDED PRECEDING) AS island_id,
         dir, value, event_id, seq
  FROM flagged
),
islands AS (
  SELECT user_id, island_id, dir,
         CAST(count(*) AS BIGINT)       AS n,
         min(seq)                       AS s0,
         arg_min(event_id, seq)         AS first_eid,
         arg_max(event_id, seq)         AS last_eid,
         CAST(floor(arg_min(value, seq) * 100 + 0.5) AS BIGINT) AS first_cents,
         CAST(floor(arg_max(value, seq) * 100 + 0.5) AS BIGINT) AS last_cents
  FROM runs
  GROUP BY user_id, island_id, dir
),
paired AS (
  SELECT *,
         lead(dir)        OVER wnext AS next_dir,
         lead(n)          OVER wnext AS next_n,
         lead(last_eid)   OVER wnext AS next_last_eid,
         lead(last_cents) OVER wnext AS next_last_cents
  FROM islands
  WINDOW wnext AS (PARTITION BY user_id ORDER BY island_id)
)
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY s0) AS BIGINT)
         AS match_seq,
       first_eid            AS start_event_id,
       last_eid             AS bottom_event_id,
       next_last_eid        AS end_event_id,
       n                    AS n_down,
       next_n               AS n_up,
       first_cents - last_cents      AS drop_cents,
       next_last_cents - last_cents  AS rise_cents
FROM paired
WHERE dir = 'D' AND next_dir = 'U'
ORDER BY user_id, match_seq
"""


@register("win_match_recognize", oracle=_MATCH_RECOGNIZE_ORACLE, tier="T2")
def win_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition with value-based DEFINE and per-match
    MEASURES — the full MATCH_RECOGNIZE shape that `win_event_pattern`'s
    regex-on-symbols form can't express:

        PARTITION BY user_id  ORDER BY ts, event_id
        MEASURES FIRST(D.event_id), LAST(D.event_id), LAST(U.event_id),
                 COUNT(D.*), COUNT(U.*), depth, recovery
        ONE ROW PER MATCH  AFTER MATCH SKIP PAST LAST ROW
        PATTERN (D+ U+)
        DEFINE D AS value < PREV(value), U AS value > PREV(value)

    i.e. every maximal V-shape (drawdown-then-recovery) in each user's
    value series.  The predicates reference PREV() — row-to-row value
    comparisons, not event-type symbols — which is exactly what the
    collapsed-string regex lane cannot see.

    Spark-first formulation (no CEP engine needed): classify each row's
    direction vs PREV via lag(), cut maximal constant-direction runs
    with the gaps-and-islands trick (direction-change flag → running
    sum), fold each run to one row (count + min_by/max_by boundary
    measures), then pair ADJACENT runs (D run i, U run i+1) with a
    lead() window over the folded run table.  Greedy/maximal runs make the
    D+ U+ match maximal and non-overlapping BY CONSTRUCTION — that IS
    "after match skip past last row"; flat ticks (value = PREV) match
    neither D nor U, so no pattern spans them, the standard DEFINE
    semantics.  Likewise the pre-decline PEAK row matches neither
    variable and is NOT part of the match, so drop is measured from the
    first below-peak row — exactly what PATTERN (D+ U+) says; anchor a
    peak-inclusive drawdown with ts_max_drawdown instead.  Scale: window passes + one groupBy, ALL partitioned by
    user_id — one logical shuffle key, no join and no all-pairs work
    anywhere; the pairing lead() runs on the folded run table (≤ one
    row per direction change), not on raw events.  Measures are
    exact BIGINTs (event ids, counts, integer cents via the PARITY.md
    floor(x*100+0.5) form), so both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        "user_id",
        "value",
        "event_id",
        F.row_number().over(w).alias("seq"),
        F.lag("value").over(w).alias("pv"),
    )
    dirs = seqd.select(
        "user_id",
        "value",
        "event_id",
        "seq",
        F.when(F.col("pv").isNull(), "S")
        .when(F.col("value") < F.col("pv"), "D")
        .when(F.col("value") > F.col("pv"), "U")
        .otherwise("F")
        .alias("dir"),
    )
    ws = Window.partitionBy("user_id").orderBy("seq")
    flagged = dirs.withColumn(
        "brk",
        F.when(F.col("dir") == F.lag("dir").over(ws), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    runs = flagged.withColumn(
        "island_id",
        F.sum("brk").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    islands = runs.groupBy("user_id", "island_id", "dir").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq").alias("s0"),
        F.min_by("event_id", "seq").alias("first_eid"),
        F.max_by("event_id", "seq").alias("last_eid"),
        F.min_by(cents, F.col("seq")).alias("first_cents"),
        F.max_by(cents, F.col("seq")).alias("last_cents"),
    )
    # Pair each D run with the run that FOLLOWS it via lead() over the
    # folded island table instead of a self-join: the join formulation
    # scans + windows the raw events twice and (at test scale) broadcasts
    # the whole island table — an unbounded build side at 100 TB.  lead()
    # reuses the user_id partitioning on the (direction-change-bounded)
    # run table: one pipeline, one scan, no join at all.
    wnext = Window.partitionBy("user_id").orderBy("island_id")
    paired = islands.select(
        "*",
        F.lead("dir").over(wnext).alias("next_dir"),
        F.lead("n").over(wnext).alias("next_n"),
        F.lead("last_eid").over(wnext).alias("next_last_eid"),
        F.lead("last_cents").over(wnext).alias("next_last_cents"),
    )
    w_match = Window.partitionBy("user_id").orderBy("s0")
    return (
        paired.filter((F.col("dir") == "D") & (F.col("next_dir") == "U"))
        .select(
            "user_id",
            F.row_number().over(w_match).cast("long").alias("match_seq"),
            F.col("first_eid").alias("start_event_id"),
            F.col("last_eid").alias("bottom_event_id"),
            F.col("next_last_eid").alias("end_event_id"),
            F.col("n").alias("n_down"),
            F.col("next_n").alias("n_up"),
            (F.col("first_cents") - F.col("last_cents")).alias("drop_cents"),
            (F.col("next_last_cents") - F.col("last_cents")).alias("rise_cents"),
        )
        .orderBy("user_id", "match_seq")
    )

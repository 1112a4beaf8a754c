"""Source / sink operators (SURVEY.md §2.A).

Connector posture for scale: everything stays in Spark's DataSource V2
file sources (parquet/csv/json) so scans get vectorized reads, predicate
pushdown, partition pruning, and (on a cluster) locality-aware splits for
free.  Round-trip operators write to a per-call scratch dir
(session.scratch_dir) — at 100 TB the same code writes to object
storage; nothing here assumes a local FS.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.scale import write_bucketed
from un_datapipeline_spark.session import _hadoop_path, scratch_dir
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    cents_sum,
    load_table,
    winner_document,
    winner_document_sql,
)

# table -> primary key column used for the scan fingerprint
_KEY_COLS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_SCAN_ORACLE = " UNION ALL ".join(
    f"SELECT '{t}' AS tbl, count(*) AS n, "
    f"CAST(min({k}) AS BIGINT) AS min_key, CAST(max({k}) AS BIGINT) AS max_key "
    f"FROM {t}"
    for t, k in _KEY_COLS.items()
)


@register("src_parquet_scan", oracle=_SCAN_ORACLE, tier="T0")
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint every table: proves all 10 parquet sources load
    (including events' ns-timestamp path) with only a count+min+max
    projection — the scan reads one column per table (column pruning)."""
    parts = []
    for t, k in _KEY_COLS.items():
        parts.append(
            load_table(spark, sf_dir, t)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.col(k).cast("long")).alias("min_key"),
                F.max(F.col(k).cast("long")).alias("max_key"),
            )
            .select(F.lit(t).alias("tbl"), "n", "min_key", "max_key")
        )
    return reduce(DataFrame.unionByName, parts)


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

_CSV_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
       count(DISTINCT n_name) AS n_names,
       min(n_name) AS first_name, max(n_name) AS last_name
FROM nation
"""


@register("src_csv_roundtrip", oracle=_CSV_ORACLE, tier="T1")
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV (header) → read back with explicit schema → checksum.
    The oracle reads the original parquet: equality proves the CSV
    writer/reader is lossless for this schema."""
    nation = load_table(spark, sf_dir, "nation")
    out = scratch_dir(spark, "udps_csv_")
    nation.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(_NATION_SCHEMA).option("header", "true").csv(out)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.countDistinct("n_name").alias("n_names"),
        F.min("n_name").alias("first_name"),
        F.max("n_name").alias("last_name"),
    )


_REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

_JSON_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("src_json_roundtrip", oracle=_JSON_ORACLE, tier="T1")
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → JSON lines → read back with explicit schema; full contents
    must survive the trip (oracle = original parquet)."""
    region = load_table(spark, sf_dir, "region")
    out = scratch_dir(spark, "udps_json_")
    region.write.mode("overwrite").json(out)
    return spark.read.schema(_REGION_SCHEMA).json(out).select("r_regionkey", "r_name")


_SINK_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       ROUND(sum(l_quantity), 4) AS sum_qty,
       ROUND(sum(l_extendedprice), 4) AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("sink_parquet_write", oracle=_SINK_ORACLE, tier="T1")
def sink_parquet_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem projection partitioned by l_returnflag (hive-style
    layout — the 100 TB pattern for partition-pruned downstream reads),
    read it back, aggregate per partition value."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    out = scratch_dir(spark, "udps_pq_")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.schema(li.schema).parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


_ORC_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
       ROUND(sum(s_acctbal), 4) AS bal_sum,
       count(DISTINCT s_nationkey) AS n_nations
FROM supplier
"""


@register("src_orc_roundtrip", oracle=_ORC_ORACLE, tier="T1")
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC → read back → checksum (oracle reads the original
    parquet).  ORC is the second columnar format with vectorized reads +
    pushdown; same V2 source surface, zero operator changes."""
    supplier = load_table(spark, sf_dir, "supplier")
    out = scratch_dir(spark, "udps_orc_")
    supplier.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s_suppkey").cast("long").alias("key_sum"),
        F.round(F.sum("s_acctbal"), 4).alias("bal_sum"),
        F.countDistinct("s_nationkey").alias("n_nations"),
    )


# ---------------------------------------------------------------------------
# Schema evolution across file generations
# ---------------------------------------------------------------------------

_EVOLUTION_ORACLE = """
SELECT count(*) AS n,
       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
       count(CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal END) AS n_with_bal,
       count(CASE WHEN s_suppkey % 2 = 1 THEN s_nationkey END) AS n_with_nation,
       ROUND(sum(CASE WHEN s_suppkey % 2 = 0 THEN s_acctbal END), 4) AS bal_sum
FROM supplier
"""


@register("src_schema_evolution", oracle=_EVOLUTION_ORACLE, tier="T1")
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet generations of the supplier feed —
    an old one carrying (key, name, acctbal) and a new one carrying
    (key, name, nationkey) — read together with mergeSchema, yielding
    the union schema with NULLs where a generation lacks the column.
    The oracle replays the generation split with CASE filters on the
    original table.

    Scale shape: mergeSchema unions footer schemas at planning time
    (cost ∝ number of FILES' footers, not data); each file still prunes
    to the columns it has.  This is how a year of evolving daily drops
    reads as one table at 100 TB."""
    s = load_table(spark, sf_dir, "supplier")
    out = scratch_dir(spark, "udps_evo_")
    s.filter(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", "s_name", "s_acctbal"
    ).write.mode("overwrite").parquet(f"{out}/gen=old")
    s.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_nationkey"
    ).write.mode("overwrite").parquet(f"{out}/gen=new")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=old", f"{out}/gen=new"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s_suppkey").cast("long").alias("key_sum"),
        F.count("s_acctbal").alias("n_with_bal"),
        F.count("s_nationkey").alias("n_with_nation"),
        F.round(F.sum("s_acctbal"), 4).alias("bal_sum"),
    )


# ---------------------------------------------------------------------------
# Bucketed table write + shuffle-free join
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = f"""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       ROUND(sum({cents_sql("o.o_totalprice")}) / 100.0, 4)
         AS total_price
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
"""


def bucketed_table_names() -> tuple[str, str]:
    """Process-unique names for the bucketed tables.

    Two harness processes running sink_bucketed_write concurrently (a
    sweep and pytest, or two sweeps) share the repo-level
    spark-warehouse dir: with fixed names the loser dies with
    TASK_WRITE_FAILED mid-overwrite (round-12 flake, --nulls sweep vs
    --magnitude sweep).  A pid suffix gives every process its own
    catalog entries and warehouse dirs; stale dirs from dead processes
    are tiny (test-scale tables), git-ignored, and never collide again
    — deliberately NOT cleaned opportunistically, which would just
    reintroduce the race against a live process."""
    import os

    return f"bk_customer_{os.getpid()}", f"bk_orders_{os.getpid()}"


@register("sink_bucketed_write", oracle=_BUCKETED_ORACLE, tier="T1")
def sink_bucketed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table layout: customer and orders both written
    bucketBy(8, custkey) + sortBy, one file per bucket
    (scale.write_bucketed), then joined — with co-bucketed layouts
    Catalyst plans the join WITHOUT a shuffle on either side (asserted
    in tests/test_scale.py; here the oracle checks the join result
    equals the plain join).

    Scale shape: bucketing pre-pays the shuffle ONCE at write time; every
    subsequent join/aggregation on the bucket key is exchange-free.  At
    100 TB this is the difference between re-shuffling the fact table per
    query and never shuffling it again."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    bk_customer, bk_orders = bucketed_table_names()
    spark.sql(f"DROP TABLE IF EXISTS {bk_customer}")
    spark.sql(f"DROP TABLE IF EXISTS {bk_orders}")
    # a fresh session's in-memory catalog doesn't know tables written by a
    # previous process, so DROP alone leaves their warehouse dirs behind —
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS.  Clear them.
    # (pid reuse across reboots can still alias a stale dir to a new
    # process, so the own-name delete stays.)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for t in (bk_customer, bk_orders):
        fs, table_dir = _hadoop_path(spark, f"{wh}/{t}")
        fs.delete(table_dir, True)
    write_bucketed(c, bk_customer, "c_custkey", 8)
    write_bucketed(o, bk_orders, "o_custkey", 8)
    cb = spark.table(bk_customer)
    ob = spark.table(bk_orders)
    price_c = cents_col("o_totalprice")
    return (
        cb.join(ob, cb.c_custkey == ob.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(price_c) / 100.0, 4).alias("total_price"),
        )
    )


_PRUNE_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("value")}) AS BIGINT) / 100.0 AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
ORDER BY event_type
"""


@register("src_partitioned_pruning", oracle=_PRUNE_ORACLE, tier="T1")
def src_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout + partition-pruned scan: events are
    written partitioned by event date (`event_date=YYYY-MM-DD/` dirs),
    then read back with a one-week filter on the partition column — the
    listing-time pruning that turns a 100 TB table scan into a
    7-partition read (the plan's PartitionFilters prune before any file
    is opened; asserted in tests/test_plan_shapes.py).  The oracle
    replays the same week directly against the source table, proving the
    partitioned roundtrip loses nothing."""
    ev = load_table(spark, sf_dir, "events")
    out = scratch_dir(spark, "udps_part_")
    part = ev.withColumn("event_date", F.to_date("ts"))
    part.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # Explicit schema (round 10, R10_EMPTY_PLAN class 1): an empty write
    # emits no data files and inference dies with UNABLE_TO_INFER_SCHEMA;
    # the writer knows the schema.  PartitionFilters pruning (the point
    # of this op) is listing-time and unaffected.
    back = spark.read.schema(part.schema).parquet(out)
    return (
        back.filter(
            F.col("event_date").between(F.lit("2024-01-08"), F.lit("2024-01-14"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents_sum() / 100.0).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


_TEXT_ORACLE = """
SELECT CAST(count(*) AS BIGINT)                            AS n_lines,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)   AS ws_tokens,
       CAST(sum(len(text)) AS BIGINT)                      AS n_chars,
       CAST(min(len(text)) AS BIGINT)                      AS min_len,
       CAST(max(len(text)) AS BIGINT)                      AS max_len
FROM documents
WHERE text IS NOT NULL
"""


@register("src_text_lines", oracle=_TEXT_ORACLE, tier="T1")
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → line-delimited .txt files → `spark.read.text`
    (the rawest LLM-corpus interchange format: one document per line) →
    corpus token/char stats.  The oracle computes the same stats on the
    source table: equality proves the text sink/source roundtrip is
    byte-lossless for newline-free documents.  (The corpus generator
    emits no embedded newlines — asserted before writing, since a
    newline would silently split a document into two lines.)

    NULL-text contract (round 9, class 2): a NULL document has no line
    — the text sink would otherwise serialize it as an EMPTY line,
    indistinguishable from a real empty document on read-back (probed:
    min_len flipped 47→0).  Filtered on both sides.

    The embedded-newline fail-fast is a TYPED ContractViolation (round
    10): deliberate, loud, and recognized by the degenerate sweeps as a
    contracted pass — the engine-correct behavior is refusing to
    corrupt the corpus, not a quiet wrong roundtrip."""
    from un_datapipeline_spark.registry import ContractViolation

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    if docs.filter(F.col("text").contains("\n")).limit(1).count() != 0:
        raise ContractViolation(
            "documents.text contains embedded newlines — line-per-doc text "
            "roundtrip would corrupt the corpus"
        )
    out = scratch_dir(spark, "udps_text_")
    docs.select("text").write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.size(F.split("value", " "))).cast("long").alias("ws_tokens"),
        F.sum(F.length("value")).cast("long").alias("n_chars"),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
    )


# Money/quantity sums go through the exact-integer lane: at sf0.1 the
# plain double sum of ~600k prices accumulates ~1e-3 of order-dependent
# error at a 3e10 magnitude — enough to flip ROUND(x, 4) across engines
# (and across Spark runs, since partial-agg order follows partitioning).
# Σ exact cents as BIGINT, divide once: deterministic at any order.
_CLUSTER_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT)        AS n,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT) / 100.0
         AS sum_price,
       CAST(min(l_shipdate) AS TIMESTAMP) AS min_ship,
       CAST(max(l_shipdate) AS TIMESTAMP) AS max_ship
FROM lineitem
"""


def _clustered_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_quantity", "l_extendedprice"
    )


def clustered_write(spark: SparkSession, sf_dir: str) -> str:
    """Range-cluster lineitem on l_shipdate into 8 files: global range
    partitioning (each file owns a disjoint date range) + an in-file
    sort.  Returns the output dir so tests can audit footer min/max."""
    out = scratch_dir(spark, "udps_cluster_")
    (
        _clustered_input(spark, sf_dir)
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@register("sink_clustered_write", oracle=_CLUSTER_ORACLE, tier="T1")
def sink_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sink (z-order-lite on one dimension): lineitem is
    globally range-partitioned on l_shipdate and sorted within each
    file, so every output file covers a disjoint date slice — the layout
    that lets a downstream date-filtered scan skip whole files on parquet
    footer min/max alone (the 100 TB file-skipping story; bucketed_write
    covers the join-key layout, this covers the range-scan one).  The
    oracle checks the roundtrip is lossless; the disjoint-ranges property
    itself is audited from the parquet footers in
    tests/test_sketches_sources.py."""
    out = clustered_write(spark, sf_dir)
    back = spark.read.schema(_clustered_input(spark, sf_dir).schema).parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
        (
            F.sum(cents_col("l_extendedprice"))
            / F.lit(100.0)
        ).alias("sum_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


_MALFORMED_ORACLE = """
SELECT CAST(count(*) AS BIGINT)                                    AS n_rows,
       CAST(count(*) FILTER (n_nationkey % 5 = 0) AS BIGINT)       AS n_bad,
       CAST(count(*) FILTER (n_nationkey % 5 <> 0) AS BIGINT)      AS n_good,
       CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT)
         AS good_key_sum,
       CAST(sum(CASE WHEN n_nationkey % 5 <> 0 THEN n_regionkey END) AS BIGINT)
         AS good_region_sum
FROM nation
"""


@register("src_csv_malformed", oracle=_MALFORMED_ORACLE, tier="T1")
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion of a deliberately dirty file: nation is
    serialized to CSV with every 5th row's integer region field
    corrupted ('x'-prefixed), and read back with an explicit schema plus
    a columnNameOfCorruptRecord column.  Malformed lines must surface as
    captured corrupt records — never dropped rows, never a failed job
    (the DROPMALFORMED/FAILFAST alternatives are the wrong default for a
    100 TB ingest where a 0.01% bad-line rate is a certainty).  The
    oracle derives the same good/bad split from the clean source table,
    proving per-line corruption containment: one bad field poisons
    exactly its own row.

    Engine gotcha, probed: the CSV parser PRUNES to referenced columns,
    and a malformed value in an unreferenced column is then never parsed
    — so no corrupt record fires.  The aggregate therefore references
    the corrupted n_regionkey field explicitly (good_region_sum); an
    ingest-audit query that projects away the dirty columns silently
    under-counts bad lines."""
    nation = load_table(spark, sf_dir, "nation")
    out = scratch_dir(spark, "udps_dirty_")
    lines = nation.select(
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.when(
                F.col("n_nationkey") % 5 == 0,
                F.concat(F.lit("x"), F.col("n_regionkey").cast("string")),
            ).otherwise(F.col("n_regionkey").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    is_bad = F.col("_corrupt").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_bad.cast("long")).alias("n_bad"),
        F.sum((~is_bad).cast("long")).alias("n_good"),
        F.sum(F.when(~is_bad, F.col("n_nationkey"))).cast("long").alias("good_key_sum"),
        F.sum(F.when(~is_bad, F.col("n_regionkey"))).cast("long").alias("good_region_sum"),
    )


_NESTED_ORACLE = """
SELECT l_orderkey AS o_orderkey,
       CAST(count(*) AS BIGINT)       AS n_lines,
       ROUND(sum(l_quantity), 4)      AS sum_qty,
       CAST(min(l_linenumber) AS INT) AS first_line,
       CAST(max(l_linenumber) AS INT) AS last_line
FROM lineitem
WHERE l_orderkey % 53 = 0
GROUP BY l_orderkey
ORDER BY o_orderkey
"""


@register("src_json_nested", oracle=_NESTED_ORACLE, tier="T1")
def src_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON document source: each order's lineitems are packed
    into one JSON document with an array<struct> field (the shape every
    API export / document store drop arrives in), written as JSON lines,
    read back with an explicit NESTED schema, and exploded back to
    relational rows.  The oracle aggregates the flat source directly —
    equality proves pack → serialize → parse → explode is lossless,
    including struct field types through the JSON boundary.  At scale
    the explode is row-local; the only shuffle is the original per-order
    groupBy (key-partitioned, map-side combined)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 53 == 0)
    packed = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("l_linenumber", "l_quantity", "l_extendedprice")
                )
            ).alias("lines")
        )
        .select(F.to_json(F.struct("l_orderkey", "lines")).alias("value"))
    )
    out = scratch_dir(spark, "udps_nested_")
    packed.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField(
                "lines",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("l_linenumber", T.IntegerType()),
                            T.StructField("l_quantity", T.DoubleType()),
                            T.StructField("l_extendedprice", T.DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(out)
    flat = back.select(
        F.col("l_orderkey").alias("o_orderkey"), F.explode("lines").alias("ln")
    )
    return (
        flat.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("ln.l_quantity"), 4).alias("sum_qty"),
            F.min("ln.l_linenumber").alias("first_line"),
            F.max("ln.l_linenumber").alias("last_line"),
        )
        .orderBy("o_orderkey")
    )


_OBSERVE_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS rows_scanned,
       CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT)
         AS cents_scanned,
       CAST(count(*) FILTER (year(l_shipdate) >= 1999) AS BIGINT) AS rows_kept,
       CAST(sum(CASE WHEN year(l_shipdate) >= 1999
                     THEN {cents_sql("l_extendedprice")} END)
            AS BIGINT) AS cents_kept
FROM lineitem
"""


@register("src_observe_metrics", oracle=_OBSERVE_ORACLE, tier="T1")
def src_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time data-quality counters via the Observation API: metrics
    are attached BEFORE the filter with ``df.observe`` and collected as
    a side effect of the one real action, so the audit (rows/money
    scanned) and the business result (rows/money kept) come from a
    SINGLE pass — at 100 TB a separate audit scan doubles the most
    expensive step of the job, which is why observe/
    CollectMetricsExec exists.  The oracle recomputes both layers from
    the source table, hash-pinning that the observed pre-filter totals
    match an independent full-scan ground truth."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        cents_col("l_extendedprice").alias("cents"),
    )
    obs = Observation("scan_audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum("cents").alias("cents_scanned"),
    )
    kept = observed.filter(F.year("l_shipdate") >= 1999).agg(
        F.count(F.lit(1)).alias("rows_kept"), F.sum("cents").alias("cents_kept")
    )
    row = kept.collect()[0]
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["rows_scanned"]),
                int(m["cents_scanned"]),
                int(row["rows_kept"]),
                int(row["cents_kept"]),
            )
        ],
        "rows_scanned long, cents_scanned long, rows_kept long, cents_kept long",
    )


_PYDS_ORACLE = """
SELECT 'row' || CAST(i % 7 AS VARCHAR) AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(i * i) AS BIGINT) AS sum_sq
FROM range(0, 1000) t(i)
GROUP BY label
"""


@register("src_python_datasource", oracle=_PYDS_ORACLE, tier="T1")
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch connector through the Spark 4 Python Data Source
    API: a DataSource subclass declares its schema and a partitioned
    reader (4 InputPartitions × 250 rows, generated deterministically),
    gets registered under a format name, and is consumed with plain
    ``spark.read.format(...)`` — the extension point for reading a
    system Spark has no built-in connector for WITHOUT leaving Python
    or giving up partition parallelism (each partition's generator runs
    in its own task).  The oracle rebuilds the synthetic rows from a
    range table, hash-pinning that all partitions arrived exactly
    once."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SynthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "udps_synth"

        def schema(self) -> str:
            return "id long, sq long, label string"

        def reader(self, schema):
            return SynthReader()

    class SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, partition):
            base = partition.value * 250
            for i in range(base, base + 250):
                yield (i, i * i, "row%d" % (i % 7))

    spark.dataSource.register(SynthSource)
    df = spark.read.format("udps_synth").load()
    return df.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("id") * F.col("id")).alias("sum_sq")
    )


# strlen(text) > 0 mirrors a documented quirk of Spark's binaryFile
# datasource: ZERO-BYTE files are silently dropped at listing time
# (probed on Spark 4.1.2 — a 0-byte .bin never becomes a row), so an
# empty document has no ingest row to match.  A real pipeline must
# audit empty objects from the listing side; see the op docstring.
_BINARY_FILES_ORACLE = f"""
SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS digest
FROM {winner_document_sql()} documents
WHERE doc_id < 20 AND text IS NOT NULL AND strlen(text) > 0
ORDER BY doc_id
"""


def _put(spark: SparkSession, path: str, data: bytes) -> None:
    """Write one small fixture file through the Hadoop FileSystem."""
    fs, p = _hadoop_path(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def _binary_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the first 20 documents as standalone .bin files (one
    UTF-8 payload per file) in a fresh scratch dir.

    This is the FIXTURE WRITER, not the operator: the testdata ships no
    loose binary files, so the ingest path under test fabricates its own
    corpus deterministically from the documents table (20 rows collected
    — bounded by the literal, not by data volume)."""
    out = scratch_dir(spark, "udp_binfiles_")
    # Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 1):
    # a file name is key-grained — two payloads under one re-crawled
    # doc_id would silently OVERWRITE each other (last writer wins by
    # filesystem accident).  The deterministic per-key winner picks
    # the one serialized form, oracle-mirrored.
    rows = (
        winner_document(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        # NULL-text contract: a NULL document has no byte payload —
        # no file is written for it (the oracle filter mirrors this)
        .filter((F.col("doc_id") < 20) & F.col("text").isNotNull())
        .collect()
    )
    for r in rows:
        _put(spark, f"{out}/doc_{r.doc_id:05d}.bin", r.text.encode("utf-8"))
    return out


@register("src_binary_files", oracle=_BINARY_FILES_ORACLE, tier="T2")
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingest via the `binaryFile` datasource — the entry
    point for image/audio/video corpora (mm_* operators consume binary
    columns; this is how those columns get INTO a DataFrame from a bucket
    of raw files).  Each file becomes one row (path, modificationTime,
    length, content) with the payload read lazily per task — at 100 TB
    the listing distributes and each executor reads only its own files;
    `pathGlobFilter` prunes non-matching objects at listing time, before
    any byte is fetched.  The identity columns (doc_id parsed from the
    file name, byte length, md5 of the payload) hash-match the documents
    rows the fixture was written from, proving byte-exact round-trip
    through the binary pipeline.

    Caveat (probed, Spark 4.1.2): binaryFile DROPS zero-byte files at
    listing time — an empty object never becomes a row.  At 100 TB that
    means truncated/placeholder objects vanish silently; reconcile the
    ingest against a bucket listing (etl_data_profile-style audit) if
    empty objects are meaningful.  The oracle mirrors the skip."""
    path = _binary_fixture_dir(spark, sf_dir)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("digest"),
        )
        .orderBy("doc_id")
    )


# The oracle REPLAYS the op's wrap + flatten transformation instead of
# assuming it is an identity: on text whose whitespace is not single
# spaces (embedded newlines/tabs/CRLF — the round-10 ctrlchars probe),
# the 10-word re-wrap canonicalizes each matched separator to one
# newline and the read-back flatten turns it into one space, so the
# digested string differs from the raw source text.  Mirroring the same
# two regex steps (RE2 'g' flag ↔ Spark's global-by-default
# regexp_replace) keeps the digest meaningful: it still certifies the
# CSV round trip byte-exactly, just over the canonical wrapped form.
_CSV_MULTILINE_ORACLE = r"""
SELECT doc_id,
       CAST(len(string_split(wrapped, chr(10))) AS BIGINT) AS n_lines,
       md5(doc_id || ':' || replace(wrapped, chr(10), ' ')) AS digest
FROM (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+\s+){9}\S+)\s+',
                        '\1' || chr(10), 'g') AS wrapped
  FROM documents
  WHERE doc_id < 50 AND text IS NOT NULL
)
ORDER BY doc_id
"""


@register("src_csv_multiline", oracle=_CSV_MULTILINE_ORACLE, tier="T2")
def src_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted multi-line CSV ingest: fields containing EMBEDDED NEWLINES
    (the layout that breaks naive line-splitting parsers) written with
    Spark's CSV sink and read back with multiLine=true.  Fixture: the
    first 50 documents re-wrapped at 10 words per line inside one quoted
    field; the read-back digest md5(doc_id:text-with-newlines) matching
    the oracle's reconstruction proves the embedded newlines survive the
    round trip byte-exactly.  The cost multiLine charges at 100 TB:
    files are NOT line-splittable (a record boundary can't be found
    mid-file), so parallelism drops to one task per FILE — keep
    multi-line CSVs small and many, or land them to parquet once and
    never re-parse (which is exactly what this op's write-then-read
    does)."""
    # NULL-text contract (round 9, class 2): a NULL document has no
    # serialized form — same rule as the text/wholetext/binary writers.
    # (Keeping it would be ambiguous: the CSV writer emits NULL as an
    # empty field, which reads back as '' and diverges from the oracle's
    # NULL-propagating digest.)
    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 50) & F.col("text").isNotNull())
        .select(
            "doc_id",
            # re-wrap: newline every 10 words — embedded newlines in ONE field
            F.regexp_replace(
                "text", r"((?:\S+\s+){9}\S+)\s+", "$1\n"
            ).alias("wrapped"),
        )
    )
    out = scratch_dir(spark, "udps_mlcsv_")
    # Faithful-field round trip (degenerate-corpus sweep, round 6): the
    # CSV writer TRIMS whitespace-only fields by default (write-side
    # ignore*WhiteSpace defaults to true) and an unquoted empty field
    # reads back as NULL, so empty / whitespace-only documents did not
    # survive.  quoteAll + ws-false on write, ws-false + a NUL nullValue
    # sentinel on read make "" and " " round-trip byte-exactly.
    (
        d.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(out)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", "\x00")
        .schema("doc_id long, wrapped string")
        .csv(out)
    )
    return back.select(
        "doc_id",
        (F.size(F.split("wrapped", "\n"))).cast("long").alias("n_lines"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.regexp_replace("wrapped", "\n", " "),
            )
        ).alias("digest"),
    ).orderBy("doc_id")


_RECURSIVE_LISTING_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < 200
GROUP BY lang
ORDER BY lang
"""


@register("src_recursive_listing", oracle=_RECURSIVE_LISTING_ORACLE, tier="T2")
def src_recursive_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory ingest via recursiveFileLookup: the first 200
    docs are written into a HAND-BUILT uneven tree (lang=<l>/shard=<s>/
    part files at DIFFERENT depths) that deliberately is NOT a Hive
    partition layout — the layout a crawler or vendor drop actually
    lands — and read back with recursiveFileLookup=true, which walks
    arbitrary nesting but (unlike partition discovery) yields NO
    partition columns, so lang must survive as a DATA column to come
    back.  The rollup matching the source table proves nothing was
    missed at any depth.  At 100 TB, recursive listing over an object
    store is itself a distributed job (Spark parallelizes it past
    spark.sql.sources.parallelPartitionDiscovery.threshold); prefer
    maxFilesPerTrigger-style batching or a manifest when the tree holds
    millions of objects."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang", "n_chars")
    )
    out = scratch_dir(spark, "udp_rectree_")
    # uneven depths: en at depth 2 (two shards), others at depth 1
    d.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)).write.mode(
        "overwrite"
    ).parquet(f"{out}/lang_en/shard_0")
    d.filter((F.col("lang") == "en") & (F.col("doc_id") % 2 == 1)).write.mode(
        "overwrite"
    ).parquet(f"{out}/lang_en/shard_1")
    # eqNullSafe: a NULL-lang doc is real data that must land in the
    # tree — plain `lang != 'en'` is three-valued NULL for it and the
    # row would silently vanish from the ingest (round 9, class 2)
    d.filter(~F.col("lang").eqNullSafe("en")).write.mode("overwrite").parquet(
        f"{out}/rest"
    )
    return (
        spark.read.schema(d.schema).option("recursiveFileLookup", "true").parquet(out)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


_WHOLETEXT_ORACLE = f"""
SELECT doc_id,
       strlen(text) AS n_bytes,
       md5(text) AS digest
FROM {winner_document_sql()} documents
WHERE doc_id >= 20 AND doc_id < 40 AND text IS NOT NULL
ORDER BY doc_id
"""


@register("src_text_wholetext", oracle=_WHOLETEXT_ORACLE, tier="T2")
def src_text_wholetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingest (wholetext=true): each file becomes ONE row
    regardless of embedded newlines — the right reader for
    document-per-file corpora (src_text_lines' line-splitting would
    shred a document into meaningless rows).  Fixture: docs 20-39
    written one-per-file; identity is recovered from the file NAME via
    input_file_name() because wholetext, unlike binaryFile, exposes no
    path column.  Byte length + md5 hash-matching the source rows
    proves the read is byte-exact (including any trailing structure).
    Scale note: a whole file is one task and one row — bound file size
    (docs, not tarballs), and for millions of small files prefer
    binaryFile or a manifest-driven compaction first; listing, not
    reading, becomes the bottleneck."""
    out = scratch_dir(spark, "udp_wholetext_")
    # Duplicate-key contract (round 10, class 1): file names are
    # key-grained — deterministic per-key winner, oracle-mirrored
    # (see src_binary_files).
    rows = (
        winner_document(load_table(spark, sf_dir, "documents"))
        # NULL-text contract: a NULL document has no file (the
        # fixture writer would crash on f.write(None); the oracle
        # filter mirrors the skip)
        .filter(
            (F.col("doc_id") >= 20)
            & (F.col("doc_id") < 40)
            & F.col("text").isNotNull()
        )
        .select("doc_id", "text")
        .collect()  # 20 rows — bounded by the literal
    )
    for r in rows:
        _put(spark, f"{out}/doc_{r.doc_id:05d}.txt", r.text.encode("utf-8"))
    fs, files = _hadoop_path(spark, f"{out}/*.txt")
    if not fs.globStatus(files):
        # a corpus without doc_ids 20-39 writes zero fixture files and
        # Spark's reader throws PATH_NOT_FOUND on an unmatched glob —
        # the empty ingest equals the oracle's empty filter (round-6
        # tiny-tables sweep)
        return spark.createDataFrame([], "doc_id long, n_bytes long, digest string")
    # wholetext MUST go through the text() kwarg: PySpark's text()
    # wrapper re-sets the option from its own parameter defaults, so a
    # prior .option("wholetext", "true") is silently OVERWRITTEN with
    # false and the reader splits on lines — invisible on newline-free
    # docs, 23 rows from 20 files on a real corpus (round-10 ctrlchars
    # probe caught the latent line-mode read).
    return (
        spark.read.text(f"{out}/*.txt", wholetext=True)
        .select(
            F.regexp_extract(F.input_file_name(), r"doc_(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.octet_length("value").cast("long").alias("n_bytes"),
            F.md5("value").alias("digest"),
        )
        .orderBy("doc_id")
    )


_JSON_MALFORMED_ORACLE = """
SELECT CAST(count(*) AS BIGINT)                              AS n_rows,
       CAST(count(*) FILTER (c_custkey % 7 = 0) AS BIGINT)   AS n_bad,
       CAST(count(*) FILTER (c_custkey % 7 <> 0) AS BIGINT)  AS n_good,
       CAST(sum(CASE WHEN c_custkey % 7 <> 0 THEN c_custkey END) AS BIGINT)
         AS good_key_sum
FROM customer
WHERE c_custkey < 500
"""


@register("src_json_malformed", oracle=_JSON_MALFORMED_ORACLE, tier="T1")
def src_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSONL quarantine: a fixture stream where every 7th
    record is corrupted (truncated mid-object — unclosed brace) is read
    in PERMISSIVE mode with columnNameOfCorruptRecord; bad lines land
    whole in the quarantine column with every data field NULL, good
    lines parse normally, and NOTHING is dropped (count in == count
    out) — the ingest contract for feeds you don't control.  Same
    parser-laziness trap as the CSV twin (src_csv_malformed): the
    corrupt column is only POPULATED if the plan actually references
    it, so the audit touches it explicitly.  JSONL corruption is
    per-line — one bad record never poisons neighbors, unlike multiline
    formats."""
    out = scratch_dir(spark, "udp_badjsonl_")
    rows = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_mktsegment")
        .collect()
    )
    lines = []
    for r in rows:
        line = f'{{"c_custkey": {r.c_custkey}, "c_mktsegment": "{r.c_mktsegment}"}}'
        if r.c_custkey % 7 == 0:
            line = line[: len(line) // 2]  # truncate mid-object
        lines.append(line + "\n")
    _put(spark, f"{out}/feed.jsonl", "".join(lines).encode("utf-8"))
    back = (
        spark.read.schema(
            "c_custkey long, c_mktsegment string, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(f"{out}/feed.jsonl")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_bad").alias("n_bad"),
        F.count("c_custkey").alias("n_good"),
        F.sum("c_custkey").cast("long").alias("good_key_sum"),
    )


_MANIFEST_READ_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS cents
FROM orders
WHERE o_orderkey % 4 IN (0, 1)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("src_manifest_read", oracle=_MANIFEST_READ_ORACLE, tier="T2")
def src_manifest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven reads — the table-format primitive (Iceberg/Delta
    snapshots are exactly this) without the format: orders are written
    as four hash-bucketed part directories, a MANIFEST file lists the
    two directories belonging to the wanted snapshot, and the read
    loads ONLY the manifest's paths — no directory listing of the whole
    table, no partition-filter scan planning; unlisted files are
    invisible by construction (time travel, atomic commits and
    snapshot isolation all fall out of swapping manifests).  At 100 TB
    manifest reads beat listing by orders of magnitude on object
    stores: planning cost is O(manifest), not O(objects in bucket).
    The rollup over the two listed buckets hash-matching the source-
    side modulo filter proves the path routing is exact."""
    import json

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = scratch_dir(spark, "udp_manifest_")
    for b in range(4):
        o.filter(F.col("o_orderkey") % 4 == b).write.mode("overwrite").parquet(
            f"{out}/bucket={b}"
        )
    manifest = {"snapshot": 1, "paths": [f"{out}/bucket={b}" for b in (0, 1)]}
    _put(spark, f"{out}/manifest.json", json.dumps(manifest).encode("utf-8"))
    fs, listed = _hadoop_path(spark, f"{out}/manifest.json")
    stream = fs.open(listed)
    try:
        paths = json.loads(bytes(stream.readAllBytes()))["paths"]
    finally:
        stream.close()
    return (
        spark.read.schema(o.schema).parquet(*paths)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_col("o_totalprice")).alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


_XML_FILES_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey
FROM nation
ORDER BY n_nationkey
"""


@register("src_xml_files", oracle=_XML_FILES_ORACLE, tier="T2")
def src_xml_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE XML file source (no spark-xml package): the
    nation table round-trips through rowTag-delimited XML documents —
    write with rootTag/rowTag, read back by tag with an explicit schema
    (inference works but schema-pinning is the production posture; XML
    attribute-vs-element ambiguity makes inferred types drift across
    files).  The read-back hash-matching the source rows proves
    element encoding (escaping, nulls, numeric round-trip) is lossless.
    This closes the sources family's format matrix: columnar
    (parquet/orc), delimited (csv ×3 dialects), semi-structured
    (json ×3, XML), raw (text/wholetext/binary).  Scale: XML, like
    multiline CSV, is only file-splittable at row boundaries the
    reader can find — many medium files beat one giant document."""
    out = scratch_dir(spark, "udp_xml_")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).mode("overwrite").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .load(out)
        .orderBy("n_nationkey")
    )

"""Cohort analytics, exact-integer time-series diagnostics, z-order
clustering, and the Spark-4 semi-structured ingestion surfaces (XML,
VARIANT).

Scale posture shared by the family: every operator aggregates to a
bounded grain before any expensive step — user-cohort grids (weeks ×
offsets), hourly/daily series (buckets × event types), 16 z-buckets —
so shuffle volume is proportional to the grain, not the fact-table row
count.  Float output follows the house integer-cents discipline
(ROUND_NOTES.md): sum exact cents as BIGINT, divide ONCE, round both
engines — no accumulation-order exposure.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import scratch_dir
from un_datapipeline_spark.tables import (
    cents_col,
    cents_sql,
    json_usable_sql,
    load_table,
    valid_ts,
    valid_ts_sql,
)

_COHORT_ORACLE = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
), sizes AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
  FROM first GROUP BY cohort_week
), ret AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INT) AS week_offset,
         CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
  FROM act a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT r.cohort_week, r.week_offset, r.active_users, s.cohort_size,
       ROUND(r.active_users * 1.0 / s.cohort_size, 6) AS retention_pct
FROM ret r JOIN sizes s USING (cohort_week)
"""


@register("agg_cohort_retention", oracle=_COHORT_ORACLE, tier="T2")
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users are assigned to the week of
    their first event, and each cell counts how many of a cohort's users
    were active N weeks later.  The classic growth-analytics rollup, and
    a shape worth owning natively because at 100 TB the naive
    formulation (self-join events × events on user) is quadratic — this
    one reduces to first-touch per user (one shuffle by user), a
    distinct (user, week) activity set bounded by users × weeks, and a
    final group by (cohort, offset) whose cardinality is weeks².
    retention_pct is one division of two exact counts — deterministic
    across engines."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    ret = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    sizes = first.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return ret.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active_users",
        "cohort_size",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias(
            "retention_pct"
        ),
    )


_INTERP_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events WHERE {valid_ts_sql()} GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(hour) AS lo, max(hour) AS hi FROM hourly GROUP BY event_type
), grid AS (
  SELECT b.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
  FROM bounds b
), g AS (
  SELECT gr.event_type, gr.hour, h.c,
         CAST(date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', gr.hour) AS BIGINT) AS i
  FROM grid gr LEFT JOIN hourly h USING (event_type, hour)
), nb AS (
  SELECT *,
    last_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pi,
    last_value(c IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc,
    first_value(CASE WHEN c IS NOT NULL THEN i END IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ni,
    first_value(c IGNORE NULLS) OVER (
      PARTITION BY event_type ORDER BY hour
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
  FROM g
)
SELECT event_type, CAST(hour AS TIMESTAMP) AS hour,
       CAST(c IS NULL AS INT) AS interpolated,
       CASE WHEN c IS NOT NULL THEN c / 100.0
            ELSE CAST(CAST(CAST(pc AS HUGEINT) * (ni - i)
                           + CAST(nc AS HUGEINT) * (i - pi)
                      AS VARCHAR) AS DOUBLE)
                 / ((ni - pi) * 100.0)
       END AS val
FROM nb
"""


@register("ts_interpolate_linear", oracle=_INTERP_ORACLE, tier="T3")
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense hourly grid per event_type and fill
    interior gaps by LINEAR interpolation between the neighboring
    observed hours (ts_resample_ffill's step-function sibling — the
    right gap model for totals that trend).  The spine is per-type
    min..max, so the first and last grid rows are always observed and
    every gap has both neighbors.

    Determinism: hourly totals are exact integer cents; the interpolated
    value (pc·(ni−i) + nc·(i−pi)) / gap is computed as BIGINT terms with
    ONE final double division, so both engines round the identical
    double.  Neighbor lookup is two IGNORE-NULLS window scans — no
    self-join, no explode beyond the spine (cardinality = hours ×
    types, independent of event volume).

    Bounded-spine contract: the per-type spine spans observed min..max,
    so one decades-out corrupt timestamp materializes a 150-year grid
    (the ``--timewarp`` sweep confirmed the hang).  ``valid_ts`` bounds
    the observed range on BOTH engines (tables.py documents the
    window); scan-pushable BETWEEN, bitwise-neutral on clean data."""
    e = load_table(spark, sf_dir, "events").where(valid_ts())
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.sum(cents_col("value")).alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    g = grid.join(hourly, ["event_type", "hour"], "left").withColumn(
        "i", F.expr("CAST(hour AS LONG) DIV 3600")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_i = F.when(F.col("c").isNotNull(), F.col("i"))
    nb = g.select(
        "event_type",
        "hour",
        "c",
        "i",
        F.last(obs_i, ignorenulls=True).over(wp).alias("pi"),
        F.last("c", ignorenulls=True).over(wp).alias("pc"),
        F.first(obs_i, ignorenulls=True).over(wn).alias("ni"),
        F.first("c", ignorenulls=True).over(wn).alias("nc"),
    )
    # the neighbor-weighted numerator rides DECIMAL(38,0) (oracle:
    # HUGEINT) — one surviving near-bound hour times a gap width
    # overflows int64 — and the output is unrounded: one double
    # division of exact integers per lane (magnitude-v2 contract)
    interp = (
        F.col("pc").cast("decimal(38,0)") * (F.col("ni") - F.col("i"))
        + F.col("nc").cast("decimal(38,0)") * (F.col("i") - F.col("pi"))
    ).cast("double") / ((F.col("ni") - F.col("pi")) * 100.0)
    return nb.select(
        "event_type",
        "hour",
        F.col("c").isNull().cast("int").alias("interpolated"),
        F.when(F.col("c").isNotNull(), F.col("c") / 100.0)
        .otherwise(interp)
        .alias("val"),
    )


_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2
), per AS (
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_langs,
         CAST(sum(cnt * cnt) AS BIGINT) AS sumsq,
         list_reduce(list_transform(list_sort(list(cnt)),
                                    x -> CAST(x AS DOUBLE) * ln(x)),
                     (a, x) -> a + x) AS plogp
  FROM counts GROUP BY source
)
SELECT source, n_docs, n_langs,
       ROUND(ln(n_docs) - plogp / n_docs, 6) AS entropy,
       ROUND(1.0 - sumsq * 1.0 / (n_docs * n_docs), 6) AS gini
FROM per
"""


@register("agg_entropy_gini", oracle=_ENTROPY_ORACLE, tier="T2")
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity metrics over documents: Shannon
    entropy and Gini impurity of the language distribution — the two
    standard mixture diagnostics a corpus datasheet reports.

    Determinism across engines is the point of the formulation: Gini
    needs only Σc² (exact BIGINT) and one division; entropy's Σ c·ln c
    is a float sum, so both sides fold LEFT-TO-RIGHT over the SORTED
    count list (Spark ``aggregate`` over ``sort_array(collect_list)``,
    DuckDB ``list_reduce`` over ``list_sort(list)``) — identical
    operand order, identical double.  The fold list is
    vocabulary-bounded (languages per source), never row-bounded, so
    collect_list here is a per-group handful, not a data column."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    per = counts.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
        F.expr(
            "aggregate(transform(sort_array(collect_list(cnt)),"
            " x -> CAST(x AS DOUBLE) * ln(x)),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("plogp"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(F.log("n_docs") - F.col("plogp") / F.col("n_docs"), 6).alias(
            "entropy"
        ),
        F.round(
            F.lit(1.0) - F.col("sumsq") / (F.col("n_docs") * F.col("n_docs")), 6
        ).alias("gini"),
    )


def _morton_spark(x: str, y: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})")
        terms.append(f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})")
    return " + ".join(terms)


def _morton_duck(x: str, y: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH z AS (
  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx,
         {_morton_duck("(l_partkey % 256)", "(l_suppkey % 256)")} AS zcode
  FROM lineitem
)
SELECT zcode >> 12 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(px) AS BIGINT) AS min_px, CAST(max(px) AS BIGINT) AS max_px,
       CAST(min(sx) AS BIGINT) AS min_sx, CAST(max(sx) AS BIGINT) AS max_sx,
       CAST(min(zcode) AS BIGINT) AS min_z, CAST(max(zcode) AS BIGINT) AS max_z
FROM z GROUP BY bucket
"""


def _zorder_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return li.withColumn(
        "zcode",
        F.expr(_morton_spark("(l_partkey % 256)", "(l_suppkey % 256)")),
    )


def zorder_write(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem parquet files range-clustered on the 16-bit Morton
    code of (l_partkey, l_suppkey) low bytes; returns the output dir so
    tests can audit footer min/max disjointness on zcode."""
    out = scratch_dir(spark, "udps_zorder_")
    (
        _zorder_input(spark, sf_dir)
        .repartitionByRange(8, "zcode")
        .sortWithinPartitions("zcode")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


@register("sink_zorder_write", oracle=_ZORDER_ORACLE, tier="T1")
def sink_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered sink: lineitem laid out by the
    bit-interleave of its two join/filter dimensions, so parquet footer
    min/max prunes files for predicates on EITHER l_partkey or
    l_suppkey — the two-dimensional generalization of
    sink_clustered_write's single-column range layout, and the layout
    Delta/Iceberg's OPTIMIZE ZORDER produces.  The write path is
    repartitionByRange(zcode) + in-file sort (a distributed range sort —
    no global window, no driver sort).  The returned summary buckets the
    curve by its top 4 bits (zcode >> 12, a pure projection) and proves
    in-SQL that every bucket confines BOTH dimensions: max_px−min_px and
    max_sx−min_sx span ≤ half the domain for every bucket, which a
    one-dimensional sort on either key alone cannot achieve for the
    other.  The Morton expression itself is 16 shift-and-mask terms —
    whole-stage-codegen integer ops, no UDF."""
    out = zorder_write(spark, sf_dir)
    back = spark.read.schema(_zorder_input(spark, sf_dir).schema).parquet(out)
    z = back.select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
        "zcode",
    )
    return z.groupBy(F.expr("shiftright(zcode, 12)").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("px").alias("min_px"),
        F.max("px").alias("max_px"),
        F.min("sx").alias("min_sx"),
        F.max("sx").alias("max_sx"),
        F.min("zcode").alias("min_z"),
        F.max("zcode").alias("max_z"),
    )


_OHLC_ORACLE = f"""
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id,
         {cents_sql("value")} AS cents,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
)
SELECT event_type, CAST(hour AS TIMESTAMP) AS hour,
       max(CASE WHEN ra = 1 THEN cents END) / 100.0 AS open,
       max(cents) / 100.0 AS high,
       min(cents) / 100.0 AS low,
       max(CASE WHEN rd = 1 THEN cents END) / 100.0 AS close,
       -- VARCHAR round-trip (r12 magneg catalog): sum(cents) is HUGEINT
       -- and the naked →DOUBLE conversion mis-rounds negatives past
       -- 2^53; open/high/low/close are single cents values — exactly
       -- representable by construction, plain division is safe
       CAST(CAST(sum(cents) AS VARCHAR) AS DOUBLE) / 100.0 AS volume,
       CAST(count(*) AS BIGINT) AS n_events
FROM base GROUP BY 1, 2
"""


@register("ts_ohlc_bars", oracle=_OHLC_ORACLE, tier="T2")
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (event_type, hour) the opening value
    (first by ts, event_id tie-break), high, low, closing value (last),
    total volume and event count — the canonical downsampling for any
    value series.  open/close are selections of exact cents (unique
    total order via the event_id tie-break), high/low are min/max, and
    volume is an integer-cents sum with one final division — nothing
    here can diverge between engines.  One shuffle to the (type, hour)
    grain; window and aggregate share the same partitioning so the sort
    is reused."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        "event_id",
        cents_col("value").alias("cents"),
    )
    wa = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "hour").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    b = base.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return b.groupBy("event_type", "hour").agg(
        (F.max(F.when(F.col("ra") == 1, F.col("cents"))) / 100.0).alias("open"),
        (F.max("cents") / 100.0).alias("high"),
        (F.min("cents") / 100.0).alias("low"),
        (F.max(F.when(F.col("rd") == 1, F.col("cents"))) / 100.0).alias("close"),
        (F.sum("cents") / 100.0).alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


# NULL priority lane (round 9, class 4): format_string renders SQL NULL
# as the LITERAL text 'null', which would parse back as a real string —
# a NULL field is serialized as an EMPTY element instead and restored by
# NULLIF on read-back.  ('' never occurs as a real priority, so the
# empty-element encoding is unambiguous on this schema; documented.)
_XML_ORACLE = """
SELECT o_orderkey,
       printf('<order><id>%d</id><status>%s</status><priority>%s</priority><odate>%s</odate></order>',
              o_orderkey, o_orderstatus, coalesce(o_orderpriority, ''),
              strftime(o_orderdate, '%Y-%m-%d')) AS xml,
       o_orderkey AS parsed_id,
       o_orderstatus AS parsed_status,
       o_orderpriority AS parsed_priority,
       strftime(o_orderdate, '%Y-%m-%d') AS parsed_odate,
       o_orderstatus AS xpath_status
FROM orders
"""


@register("fn_xml_roundtrip", oracle=_XML_ORACLE, tier="T1")
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML serialize → parse roundtrip over orders using the Spark 4
    native XML surface: rows are rendered to an <order> document with
    format_string, parsed back with ``from_xml`` against an explicit
    struct schema, and one field is additionally pulled via the
    ``xpath_string`` Hive-compatible extractor (the two coexisting XML
    access paths a migrating user will have in their queries).  The
    oracle rebuilds the document with printf and takes the parsed
    fields straight from the source columns, so the hash proves the
    roundtrip is lossless — any entity-escaping or type-coercion drift
    in the parse would surface as a mismatch.  Pure string expressions,
    whole-stage codegen, no UDF.

    Round-13 (guide §2.5, VERDICT r12 item 3): the render + from_xml +
    xpath_string per row (the double parse IS the op's semantics) ran
    on a ONE-task scan of the single-row-group test file; the
    parallelize_scan spreads the per-row parse work and is a no-op when
    the scan already parallelizes (real-scale row groups).  Per-row
    string expressions on unchanged values — hash-identical."""
    from un_datapipeline_spark.scale import parallelize_scan

    o = parallelize_scan(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"
        )
    )
    xml = o.select(
        "o_orderkey",
        F.format_string(
            "<order><id>%d</id><status>%s</status><priority>%s</priority>"
            "<odate>%s</odate></order>",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            # NULL → empty element, restored by NULLIF after the parse
            # (format_string would otherwise render the literal 'null')
            F.coalesce(F.col("o_orderpriority"), F.lit("")),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ).alias("xml"),
    )
    parsed = xml.select(
        "o_orderkey",
        "xml",
        F.from_xml(
            "xml", "id bigint, status string, priority string, odate string"
        ).alias("p"),
    )
    return parsed.select(
        "o_orderkey",
        "xml",
        F.col("p.id").alias("parsed_id"),
        F.col("p.status").alias("parsed_status"),
        # empty element → NULL (works whether from_xml parses it as ''
        # or as NULL — NULLIF is identity on NULL)
        F.nullif(F.col("p.priority"), F.lit("")).alias("parsed_priority"),
        F.col("p.odate").alias("parsed_odate"),
        F.expr("xpath_string(xml, '/order/status')").alias("xpath_status"),
    )


# Dirty-payload mirror (round 10, R10_BADJSON_PLAN): Spark's
# try_parse_json yields a NULL variant for malformed JSON AND for
# duplicate-key objects (probed — DuckDB's json_valid accepts dup keys
# and json_extract takes the FIRST, so validity alone under-mirrors);
# `usable` replicates the variant parser's acceptance exactly
# (json_valid + top-level key uniqueness via json_keys).  canon_json
# uses the independent printf rebuild on the object-with-k fast path
# (the canonicalization pin) and DuckDB's own json() normalizer for
# other parseable shapes ('null' literal, arrays) — both match Spark's
# to_json(variant) byte-for-byte on this corpus family.
# k_val mirrors try_variant_get('$.k', 'bigint') type-by-type (probed):
# integer JSON numbers pass through; DOUBLE TRUNCATES toward zero
# (1.5→1, -1.5→-1; DuckDB's bare CAST would ROUND) with TRY_CAST
# NULLing beyond-int64 magnitudes; VARCHAR parses only integer-spelled
# strings (" 7 "→7, "1.5"→NULL — DuckDB's varchar cast would round);
# BOOLEAN is 1/0; everything else NULL.  canon_json: printf rebuild for
# integer k (the canonicalization pin), DuckDB's json() normalizer for
# other parseable shapes, and an EXPLICIT NULL for non-integer NUMERIC
# k on BOTH sides (Spark mirrors via schema_of_variant DOUBLE/DECIMAL
# detection): each engine's canonical float repr is its own formatter
# ('1.0E300' vs '1e300', 2.0 → '2' vs '2.0'), so the lane declares the
# shape uncanonicalizable instead of pinning one engine's repr.
_VARIANT_ORACLE = rf"""
WITH flags AS (
  SELECT event_id, props, {json_usable_sql()} AS usable
  FROM events
), vals AS (
  SELECT event_id, props, usable,
         CASE WHEN NOT usable THEN NULL ELSE json_type(props, '$.k') END AS jt,
         CASE WHEN NOT usable THEN NULL
              WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
              WHEN json_type(props, '$.k') = 'DOUBLE'
                THEN TRY_CAST(trunc(CAST(json_extract(props, '$.k') AS DOUBLE))
                              AS BIGINT)
              WHEN json_type(props, '$.k') = 'VARCHAR'
                THEN CASE WHEN regexp_matches(
                            coalesce(props->>'$.k', ''),
                            '^\s*[+-]?[0-9]+\s*$')
                          THEN TRY_CAST(props->>'$.k' AS BIGINT) END
              WHEN json_type(props, '$.k') = 'BOOLEAN'
                THEN CASE WHEN props->>'$.k' = 'true' THEN 1 ELSE 0 END
              END AS k_val
  FROM flags
)
SELECT event_id,
       k_val,
       CAST(k_val IS NULL AS INT) AS k_missing,
       CASE WHEN NOT usable THEN NULL
            -- DOUBLE carve is EXPLICIT on both sides (review stress):
            -- each engine's canonical repr of a non-integer numeric k
            -- is its own float formatter ('1.0E300' vs '1e300', '2' vs
            -- '2.0') — the canon lane declares it NULL rather than
            -- pinning one engine's repr
            WHEN jt = 'DOUBLE' THEN NULL
            WHEN jt IN ('BIGINT', 'UBIGINT') THEN printf('{{"k":%d}}', k_val)
            -- coalesce: the JSON null literal is the ONE usable payload
            -- whose json()::VARCHAR collapses to SQL NULL, but Spark's
            -- to_json(variant) spells it 'null'
            ELSE coalesce(CAST(json(props) AS VARCHAR), 'null') END AS canon_json
FROM vals
"""


@register("fn_variant_json", oracle=_VARIANT_ORACLE, tier="T1")
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through the Spark 4 VARIANT type:
    events.props is parsed once with ``parse_json`` into a variant,
    fields are extracted with typed ``variant_get`` paths, and the
    variant is re-serialized with ``to_json`` — which canonicalizes the
    text (key ordering, whitespace), the property the oracle pins by
    rebuilding the canonical form with printf.  VARIANT is the scale
    path for schema-on-read JSON: the binary encoding is parsed once at
    scan time and every downstream path access is a cheap binary probe,
    where the legacy get_json_object re-parses the string per
    expression (fn_json covers that surface).  try_parse_json (round
    10, R10_BADJSON_PLAN): one malformed payload must become a NULL
    variant, not a MALFORMED_RECORD_IN_PARSING task crash — the oracle
    mirrors the parser's acceptance including its duplicate-key
    rejection."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_id", F.try_parse_json("props").alias("v"))
    # try_variant_get (review catch): the plain variant_get THROWS
    # INVALID_VARIANT_CAST on a beyond-int64 numeric k (probed: 1e300)
    # — one absurd payload must not kill the scan
    return v.select(
        "event_id",
        F.try_variant_get("v", "$.k", "bigint").alias("k_val"),
        F.try_variant_get("v", "$.k", "bigint")
        .isNull()
        .cast("int")
        .alias("k_missing"),
        F.when(
            F.coalesce(
                F.expr(
                    "schema_of_variant(try_variant_get(v, '$.k'))"
                ).rlike("^(DOUBLE|DECIMAL)"),
                F.lit(False),
            ),
            F.lit(None).cast("string"),
        )
        .otherwise(F.to_json("v"))
        .alias("canon_json"),
    )


_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pre
  FROM daily
), tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY event_type
), s AS (
  SELECT c.event_type, c.day, t.n,
         abs(t.n * c.pre - c.i * t.total) AS s_abs,
         row_number() OVER (PARTITION BY c.event_type
                            ORDER BY abs(t.n * c.pre - c.i * t.total) DESC, c.day)
           AS rn
  FROM cum c JOIN tot t USING (event_type)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS cp_day, n AS n_days,
       -- NO ROUND: one surviving near-bound day pushes the score past
       -- 2^33 where ulp > 1e-6 and ROUND(x,6) is ILL-DEFINED
       -- cross-engine (each engine picks a different nearest double —
       -- the magnitude doctrine, tables.exact_double_sql docstring;
       -- r12 sweep catch at 5e13).  The raw division IS deterministic:
       -- BIGINT→double casts round correctly on both engines and the
       -- single division is correctly rounded over identical operands.
       s_abs / (n * 100.0) AS cusum_score
FROM s WHERE rn = 1
"""


@register("ts_cusum_changepoint", oracle=_CUSUM_ORACLE, tier="T2")
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event_type: the day where the
    cumulative sum of deviations from the series mean peaks — the
    classic single-changepoint estimator (Page's CUSUM / binary
    segmentation's first split).  The whole statistic stays in exact
    integers: S_i = Σ_{j≤i}(x_j − mean) would be fractional, so both
    engines maximize |n·prefix_i − i·total| (S_i scaled by n), with ONE
    double division only for the reported score.  Aggregates to the
    daily grain first, so the windowed scan runs over days × types
    regardless of event volume; argmax ties break to the earliest
    day."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(cents_col("value")).alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    cum = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pre"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n")
    )
    s_abs = F.abs(F.col("n") * F.col("pre") - F.col("i") * F.col("total"))
    s = cum.join(tot, "event_type").select(
        "event_type",
        "day",
        "n",
        s_abs.alias("s_abs"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                s_abs.desc(), F.col("day")
            )
        )
        .alias("rn"),
    )
    return s.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("cp_day"),
        F.col("n").alias("n_days"),
        # unrounded: see the oracle note — ROUND(,6) is ill-defined
        # once the score's ulp exceeds 1e-6 (magnitude doctrine)
        (F.col("s_abs") / (F.col("n") * 100.0)).alias("cusum_score"),
    )


_COLLATION_ORACLE = """
WITH mixed AS (
  SELECT c_custkey,
         CASE c_custkey % 2 WHEN 0
              THEN upper('Customer#' || CAST(c_custkey // 2 AS VARCHAR))
              ELSE lower('Customer#' || CAST(c_custkey // 2 AS VARCHAR)) END
           AS name
  FROM customer
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT name) AS BIGINT) AS distinct_binary,
       CAST(count(DISTINCT lower(name)) AS BIGINT) AS distinct_lcase,
       CAST(count(*) FILTER (name = lower(name)) AS BIGINT) AS n_all_lower
FROM mixed
"""


@register("fn_collation_compare", oracle=_COLLATION_ORACLE, tier="T1")
def fn_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive semantics through Spark 4 COLLATION: customer
    keys are paired onto shared base names in opposite casings, then
    counted distinct under UTF8_BINARY versus UTF8_LCASE — the
    collated column makes DISTINCT, GROUP BY and '=' case-insensitive
    ENGINE-SIDE, where the pre-collation idiom smears lower() over every
    expression.  The oracle pins the lcase distinct count to
    count(DISTINCT lower(name)), proving the collation path computes
    exactly the fold-then-compare semantics.  Collation is metadata on
    the comparison, not a rewrite — the plan stays whole-stage
    codegen."""
    c = load_table(spark, sf_dir, "customer")
    # adjacent key pairs share a base name in opposite casings, so the
    # two collations MUST disagree: binary sees both variants, lcase
    # folds each pair (customer names are otherwise unique, so mangling
    # c_name alone would never collide)
    mixed = c.selectExpr(
        "c_custkey",
        "CASE CAST(c_custkey % 2 AS INT) WHEN 0"
        " THEN upper(concat('Customer#', CAST(c_custkey DIV 2 AS STRING)))"
        " ELSE lower(concat('Customer#', CAST(c_custkey DIV 2 AS STRING)))"
        " END AS name",
    )
    return mixed.selectExpr(
        "name",
        "collate(name, 'UTF8_LCASE') AS name_ci",
        "CAST(name = lower(name) AS INT) AS all_lower",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("name").alias("distinct_binary"),
        F.countDistinct("name_ci").alias("distinct_lcase"),
        F.sum("all_lower").alias("n_all_lower"),
    )


_ROLLREG_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(sum({cents_sql("value")}) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, day, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS x
  FROM daily
), win AS (
  SELECT event_type, day,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) OVER w AS sxy,
         CAST(sum(x * x) OVER w AS BIGINT) AS sxx
  FROM idx
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       CAST(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
         / ((n * sxx - sx * sx) * 100.0)
         AS beta_per_day
FROM win WHERE n = 7
"""


@register("win_rolling_regression", oracle=_ROLLREG_ORACLE, tier="T2")
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of the daily total per event_type — the
    windowed trend detector (win_rolling_corr's regression sibling).
    All five window moments (n, Σx, Σy, Σxy, Σx²) are exact BIGINTs
    over the daily grain with x the dense day index, so the slope
    β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE double division per row —
    no float accumulates across the frame.  Emitted only for full
    7-day frames; one sort serves all five moments."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(cents_col("value")).alias("y")
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(wo).cast("long").alias("x"),
    )
    w = wo.rowsBetween(-6, 0)
    # x·y and the slope numerator ride DECIMAL(38,0) (oracle: HUGEINT):
    # one surviving near-bound day overflows int64 (magnitude-v2).  The
    # slope is one unrounded double division of exact integers —
    # ROUND(x,6) at corrupt-magnitude betas is itself ill-defined.
    win = idx.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    return win.filter(F.col("n") == 7).select(
        "event_type",
        "day",
        (
            (
                F.col("n") * F.col("sxy")
                - F.col("sx").cast("decimal(38,0)") * F.col("sy")
            ).cast("double")
            / ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * 100.0)
        ).alias("beta_per_day"),
    )


_DECILE_ORACLE = f"""
WITH cents AS (
  SELECT o_orderkey, {cents_sql("o_totalprice")} AS c
  FROM orders
), banded AS (
  -- NULLS LAST pinned (round 9, class 3): Spark defaults NULLS FIRST
  -- ascending, DuckDB NULLS LAST — an unpriced order would land in
  -- decile 1 on one engine and decile 10 on the other.
  SELECT c, ntile(10) OVER (ORDER BY c NULLS LAST, o_orderkey) AS decile
  FROM cents
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n,
       min(c) / 100.0 AS band_min,
       max(c) / 100.0 AS band_max,
       CAST(sum(c) AS BIGINT) / 100.0 AS band_total
FROM banded GROUP BY decile
"""


@register("agg_quantile_bands", oracle=_DECILE_ORACLE, tier="T2")
def agg_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding of order totals: ntile(10) over the unique
    (cents, orderkey) order, then per-band count/min/max/total — the
    equal-population histogram behind pricing tiers and score-band
    reports, where agg_histogram's equal-WIDTH bins leave tail bands
    empty.  The unique tie-break makes every band boundary
    deterministic; band stats are integer selections and sums.  The
    global ntile is a single-partition window over orders (the
    topk_global caveat) — at extreme scale the same bands fall out of
    approx_percentile split points + one scan, traded for exactness at
    the boundaries."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        cents_col("o_totalprice").alias("c"),
    )
    banded = cents.select(
        "c",
        # NULLS LAST matches the oracle (see _DECILE_ORACLE note)
        F.ntile(10)
        .over(Window.orderBy(F.asc_nulls_last("c"), "o_orderkey"))
        .alias("decile"),
    )
    return banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("c") / 100.0).alias("band_min"),
        (F.max("c") / 100.0).alias("band_max"),
        (F.sum("c") / 100.0).alias("band_total"),
    )


_TTC_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
), conv AS (
  SELECT CAST((epoch_us(t_purchase) - epoch_us(t_signup)) // 60000000
              AS BIGINT) AS mins
  FROM firsts
  WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_signup
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(mins, 0.25) / 60.0, 6) AS p25_hours,
       ROUND(quantile_cont(mins, 0.50) / 60.0, 6) AS p50_hours,
       ROUND(quantile_cont(mins, 0.90) / 60.0, 6) AS p90_hours
FROM conv
"""


@register("agg_time_to_convert", oracle=_TTC_ORACLE, tier="T2")
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency: per user the FIRST signup
    and FIRST subsequent purchase, then exact p25/p50/p90 of the gap —
    the funnel-latency metric (win_funnel_attribution counts who
    converts; this measures how fast).  First-touch extraction is one
    conditional-min aggregate per user (no window, partial-aggregable);
    gaps are integer minutes so the percentile interpolation runs on
    exact values; one division to hours at the end."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    conv = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        F.expr(
            "CAST((CAST(t_purchase AS LONG) - CAST(t_signup AS LONG))"
            " DIV 60 AS LONG)"
        ).alias("mins")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("mins", F.lit(0.25)) / 60.0, 6).alias("p25_hours"),
        F.round(F.percentile("mins", F.lit(0.50)) / 60.0, 6).alias("p50_hours"),
        F.round(F.percentile("mins", F.lit(0.90)) / 60.0, 6).alias("p90_hours"),
    )


_KANON_ORACLE = """
WITH qi AS (
  SELECT n.n_name, date_trunc('month', o.o_orderdate) AS order_month,
         CAST(count(*) AS BIGINT) AS grp_n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (grp_n < 10) AS BIGINT) AS n_groups_below_k,
       CAST(coalesce(sum(grp_n) FILTER (grp_n < 10), 0) AS BIGINT)
         AS n_rows_suppressed,
       CAST(coalesce(sum(grp_n) FILTER (grp_n >= 10), 0) AS BIGINT)
         AS n_rows_published,
       CAST(min(grp_n) AS BIGINT) AS min_group,
       CAST(10 AS BIGINT) AS k
FROM qi
"""


@register("etl_k_anonymity", oracle=_KANON_ORACLE, tier="T1")
def etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=10) over the quasi-identifier pair
    (customer nation, order month): group sizes for every QI
    combination, how many groups fall below k, and the row counts a
    release would suppress versus publish — the governance gate that
    runs BEFORE any aggregate export (etl_gdpr_delete removes named
    subjects; this catches the re-identification risk of small
    groups).  One aggregation to the QI grain then a single-row
    rollup; exact integers throughout."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    qi = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count(F.lit(1)).alias("grp_n"))
    )
    below = F.col("grp_n") < 10
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(below.cast("long")).alias("n_groups_below_k"),
        F.coalesce(F.sum(F.when(below, F.col("grp_n"))), F.lit(0)).alias(
            "n_rows_suppressed"
        ),
        F.coalesce(F.sum(F.when(~below, F.col("grp_n"))), F.lit(0)).alias(
            "n_rows_published"
        ),
        F.min("grp_n").alias("min_group"),
        F.lit(10).cast("long").alias("k"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (co-purchase support / confidence / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 2
_BASKET_TOPK = 25

_BASKET_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
), item AS (
  SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM li a JOIN li b
    ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT p1, p2, c_ab, i1.c AS c_p1, i2.c AS c_p2,
       CAST((c_ab * 1000000) // i1.c AS BIGINT) AS conf_ppm,
       CAST((c_ab * n_orders * 1000000) // (i1.c * i2.c) AS BIGINT)
         AS lift_ppm
FROM pairs
JOIN item i1 ON i1.p = pairs.p1
JOIN item i2 ON i2.p = pairs.p2
CROSS JOIN n
ORDER BY lift_ppm DESC, p1, p2 LIMIT {_BASKET_TOPK}
"""


@register("agg_market_basket", oracle=_BASKET_ORACLE, tier="T2")
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules — the retail / recommendation
    classic: parts that appear in the SAME order form a candidate rule
    p1 -> p2, scored by support (co-order count), confidence
    P(p2|p1), and lift P(p1,p2)/(P(p1)P(p2)), mined top-k by lift.

    Determinism lane (scaled rational, the llm_pmi_collocations
    discipline): confidence and lift are single integer divisions after
    a x10^6 scale — c_ab*10^6 DIV c_a and c_ab*N*10^6 DIV (c_a*c_b) —
    so the ranking key is exact BIGINT and no float comes near the
    ORDER BY.

    Scale shape: baskets self-join inside an order only (equi-join on
    l_orderkey; a TPC-H order holds <=17 lines so the pair fan-out is
    bounded x136 worst-case, x6 typical), pair counting is one hash
    agg, the min-support floor prunes the rule table before the
    (broadcast) item-count joins, and the final top-k is
    TakeOrdered.  The same plan mines co-view / co-click pairs at
    100 TB — the only knob that moves is the support floor."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, (a.k == b.k) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _BASKET_MIN_SUPPORT)
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c_p1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c_p2"))
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (
        pairs.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "c_ab",
            "c_p1",
            "c_p2",
            F.expr("(c_ab * 1000000) DIV c_p1").cast("long").alias("conf_ppm"),
            F.expr("(c_ab * n_orders * 1000000) DIV (c_p1 * c_p2)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "p1", "p2")
        .limit(_BASKET_TOPK)
    )

"""Scalar function families (SURVEY.md §2.H).

One operator per family; each exercises every listed function as Column
expressions (JVM-side, whole-stage-codegen'd — never Python).  Dialect
traps (dayofweek numbering, round modes, regex flavors) are normalized on
BOTH sides per SURVEY.md §5.3.4.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import (
    cents_sql,
    json_long_strict_sql,
    json_str_int_sql,
    json_usable_sql,
    load_table,
)

_COND_ORACLE = """
SELECT coalesce(CASE WHEN o_orderpriority LIKE '1%' THEN 'hi'
                     WHEN o_orderpriority LIKE '2%' THEN 'mid'
                     END, 'rest')                                  AS pri_band,
       coalesce(nullif(o_orderstatus, 'P'), 'X')                   AS st,
       CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS size_band,
       count(*) AS n
FROM orders
GROUP BY pri_band, st, size_band
"""


@register("fn_conditional", oracle=_COND_ORACLE, tier="T1")
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise, coalesce, nullif, nvl, if — grouped counts."""
    o = load_table(spark, sf_dir, "orders")
    pri_band = F.coalesce(
        F.when(F.col("o_orderpriority").like("1%"), "hi").when(
            F.col("o_orderpriority").like("2%"), "mid"
        ),
        F.lit("rest"),
    ).alias("pri_band")
    st = F.nvl(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("X")).alias("st")
    size_band = F.expr("if(o_totalprice > 150000, 'big', 'small')").alias("size_band")
    return o.groupBy(pri_band, st, size_band).agg(F.count(F.lit(1)).alias("n"))


_STRING_ORACLE = """
SELECT c_custkey,
       upper(c_mktsegment)                          AS seg_up,
       lower(c_name)                                AS name_lo,
       trim(concat_ws(' ', c_name, c_mktsegment))   AS joined,
       substring(c_name, 10, 9)                     AS digits,
       length(c_name)                               AS name_len,
       lpad(CAST(c_nationkey AS VARCHAR), 4, '0')   AS nk_pad,
       instr(c_name, '#')                           AS hash_pos,
       regexp_extract(c_name, '([0-9]+)', 1)        AS num_part,
       regexp_replace(c_name, '[0-9]', '#', 'g')    AS masked,
       (c_name LIKE 'Customer%')                    AS is_cust,
       starts_with(c_mktsegment, 'BU')              AS is_building,
       array_to_string(string_split(c_name, '#'), '|') AS parts
FROM customer
"""


@register("fn_string", oracle=_STRING_ORACLE, tier="T2")
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, trim, substring, concat_ws, length, lpad,
    instr, regexp extract/replace (POSIX-common patterns only —
    SURVEY.md §5.3.4), like, startswith, split.  The split result is
    serialized with array_join on BOTH sides: the driver's canonicalizer
    cannot hash raw array cells (r1 HARNESS-ERR: unhashable ndarray), so
    hashed outputs must be scalar — the split itself still runs."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_up"),
        F.lower("c_name").alias("name_lo"),
        F.trim(F.concat_ws(" ", "c_name", "c_mktsegment")).alias("joined"),
        F.substring("c_name", 10, 9).alias("digits"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nk_pad"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("num_part"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.col("c_name").like("Customer%").alias("is_cust"),
        F.startswith(F.col("c_mktsegment"), F.lit("BU")).alias("is_building"),
        F.array_join(F.split("c_name", "#"), "|").alias("parts"),
    )


_DATETIME_ORACLE = """
SELECT o_orderkey,
       year(o_orderdate)                                   AS y,
       month(o_orderdate)                                  AS m,
       dayofmonth(o_orderdate)                             AS dom,
       isodow(o_orderdate)                                 AS isodw,
       CAST(date_trunc('month', o_orderdate) AS DATE)      AS mstart,
       date_diff('day', TIMESTAMP '2024-01-01', o_orderdate) AS days_since,
       CAST(o_orderdate + INTERVAL 7 DAY AS DATE)          AS plus7,
       (year(o_orderdate) - 2024) * 12 + month(o_orderdate) - 1 AS months_since,
       CAST(floor(epoch(o_orderdate)) AS BIGINT)           AS epoch_s
FROM orders
"""


@register("fn_datetime", oracle=_DATETIME_ORACLE, tier="T2")
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family.  Dialect traps normalized per SURVEY.md §5.3.4:
    Spark dayofweek is 1=Sunday vs DuckDB 0=Sunday, so both sides emit
    ISO numbering (1=Monday); month arithmetic is spelled out on both
    sides because months_between semantics differ; epoch is integer
    seconds under the UTC session timezone."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (((F.dayofweek("o_orderdate") + 5) % 7) + 1).alias("isodw"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("mstart"),
        F.datediff(F.col("o_orderdate"), F.lit("2024-01-01").cast("timestamp")).alias(
            "days_since"
        ),
        F.date_add(F.to_date("o_orderdate"), 7).alias("plus7"),
        ((F.year("o_orderdate") - 2024) * 12 + F.month("o_orderdate") - 1).alias(
            "months_since"
        ),
        # o_orderdate is TIMESTAMP_NTZ (parquet ms, no tz) — NTZ→long is
        # not castable directly; route via TIMESTAMP under the UTC session
        # zone, matching DuckDB's naive-timestamp epoch().
        F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_s"),
    )


_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey,
       round(l_extendedprice, 2)                       AS price_r2,
       ROUND(abs(l_discount - 0.05), 6)                AS abs_dev,
       CAST(ceil(l_quantity) AS BIGINT)                AS qty_ceil,
       CAST(floor(l_quantity) AS BIGINT)               AS qty_floor,
       ROUND(sqrt(l_quantity), 6)                      AS qty_sqrt,
       ROUND(ln(l_extendedprice), 6)                   AS price_ln,
       ROUND(log10(l_extendedprice), 6)                AS price_log10,
       ROUND(exp(l_discount), 6)                       AS disc_exp,
       ROUND(pow(l_quantity, 2), 6)                    AS qty_sq,
       mod(l_orderkey, 7)                              AS ok_mod7,
       CAST(sign(l_discount - 0.05) AS INT)            AS disc_sign,
       ROUND(greatest(l_extendedprice, l_quantity * 1000.0), 4) AS hi,
       ROUND(least(l_extendedprice, l_quantity * 1000.0), 4)    AS lo
FROM lineitem
"""


@register("fn_math", oracle=_MATH_ORACLE, tier="T2")
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family.  Round-1 driver hash-fail root-caused (strict_diff):
    Spark ceil/floor return LONG while DuckDB's return DOUBLE, so the
    oracle casts to BIGINT — int64-vs-float64 hashes differently even
    when values are ==.  `round` (HALF_UP, ties away from zero) matches
    DuckDB's double `round` on both signs; bround (HALF_EVEN) does NOT
    (ADVICE.md r1).  pmod==mod on these all-positive keys.

    Round-13 (guide §2.5, VERDICT r12 item 3): the 15 codegen'd math
    expressions over 600k rows ran on a ONE-task scan (single-row-group
    test files cannot split), ~6 µs/row serial while 31 cores idled;
    parallelize_scan spreads the projection and is a no-op whenever the
    scan already parallelizes (real-scale row groups).  Per-row math on
    unchanged row values — hash-identical by construction (mirror
    re-verified)."""
    from un_datapipeline_spark.scale import parallelize_scan

    li = parallelize_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_extendedprice",
            "l_discount",
            "l_quantity",
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(F.col("l_extendedprice"), 2).alias("price_r2"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.pmod("l_orderkey", F.lit(7)).alias("ok_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.round(F.greatest("l_extendedprice", F.col("l_quantity") * 1000.0), 4).alias("hi"),
        F.round(F.least("l_extendedprice", F.col("l_quantity") * 1000.0), 4).alias("lo"),
    )


# NULL-vector contract predicate: the ONE definition (round-9 review —
# hand-inlined copies of the SQL drift when the contract changes)
from un_datapipeline_spark.operators.llm_vectors import valid_vec_sql as _vv_sql

_ARRAY_ORACLE = f"""
SELECT vec_id,
       len(embedding)                                                  AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6)                          AS e1,
       array_to_string(list_transform(list_slice(embedding, 2, 4),
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                     AS VARCHAR)), '|')                                AS head3,
       list_contains(list_transform(embedding, x -> x > 0), true)     AS has_pos,
       array_to_string(list_transform(embedding,
           x -> CAST(CAST(round(CAST(x AS DOUBLE) * 2 * 1000000) AS BIGINT)
                     AS VARCHAR)), '|')                                AS doubled,
       len(list_filter(embedding, x -> x > 0))                         AS n_pos,
       ROUND(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), 'sum'), 6)                       AS el_sum,
       array_to_string(list_transform(list_sort(list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))),
           y -> CAST(y AS VARCHAR)), '|')                              AS sorted_r6,
       array_to_string(list_transform(list_sort(list_distinct(
           list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10) AS BIGINT)))),
           y -> CAST(y AS VARCHAR)), '|')                              AS distinct_r1,
       ROUND(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6)   AS sumsq
FROM embeddings
WHERE {_vv_sql("embedding")}
"""


@register("fn_array", oracle=_ARRAY_ORACLE, tier="T2")
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over the embedding vectors via higher-order functions
    (JVM lambda exprs — no Python boundary).  The driver's canonicalizer
    cannot hash raw array cells (r1 HARNESS-ERR: unhashable ndarray), so
    every array-valued output is serialized to a scalar string on BOTH
    sides; float elements go through an integer micro-unit lane
    (round(x*1e6) as long — identical expression shape in both engines,
    so the doubles being rounded are bit-identical) rather than
    double→string, which is repr-sensitive.  Distinct lists are sorted
    because distinct order is engine-specific (SURVEY.md §5.3.3);
    zip_with computes the elementwise square feeding sumsq.

    NULL-vector contract (round 9): a NULL / NULL-element vector is
    excluded on BOTH sides — nearly every lane here otherwise diverges
    (Spark's aggregate propagates a NULL element, array_join silently
    drops it, NULL sort position differs) while DuckDB's list aggregates
    skip it; the single shared predicate replaces ten per-lane CASEs."""
    from un_datapipeline_spark.operators.llm_vectors import valid_vec

    em = load_table(spark, sf_dir, "embeddings").filter(valid_vec())
    dbl = F.transform("embedding", lambda x: x.cast("double"))

    # NB: helpers passed to F.transform must be single-arg lambdas — a
    # two-parameter callable would receive the element INDEX as its
    # second argument and silently scale by position.
    def micro(x, scale=1000000):
        return F.round(x.cast("double") * scale).cast("long")

    def joined(arr):
        return F.array_join(F.transform(arr, lambda v: v.cast("string")), "|")

    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e1"),
        joined(F.transform(F.slice("embedding", 2, 3), lambda x: micro(x))).alias("head3"),
        F.array_contains(F.transform("embedding", lambda x: x > 0), True).alias("has_pos"),
        joined(
            F.transform("embedding", lambda x: F.round(x.cast("double") * 2 * 1000000).cast("long"))
        ).alias("doubled"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 6).alias("el_sum"),
        joined(F.sort_array(F.transform("embedding", lambda x: micro(x)))).alias("sorted_r6"),
        joined(
            F.sort_array(
                F.array_distinct(F.transform("embedding", lambda x: micro(x, 10)))
            )
        ).alias("distinct_r1"),
        F.round(
            F.aggregate(
                F.zip_with(dbl, dbl, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("sumsq"),
    )


# json_valid guard (round 10, R10_BADJSON_PLAN): Spark's
# get_json_object/from_json return NULL on malformed input, but
# DuckDB's json_extract THROWS on a truncated object — the CASE pins
# the NULL-on-malformed semantics so one dirty payload cannot kill the
# oracle where the engine sails through.
_JSON_ORACLE = f"""
SELECT event_type,
       count(*)                                         AS n,
       ROUND(avg({json_str_int_sql()}), 6)              AS avg_k,
       CAST(max(CASE WHEN {json_usable_sql()}
           THEN (CASE WHEN {json_long_strict_sql()}
                    BETWEEN -2147483648 AND 2147483647
                 THEN {json_long_strict_sql()} END)
           END) AS INT)                                 AS max_k,
       min({json_str_int_sql()})                        AS min_k
FROM events
GROUP BY event_type
"""


@register("fn_json", oracle=_JSON_ORACLE, tier="T2")
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family on events.props: path extraction via get_json_object
    AND schema-full parse via from_json — both feed the same aggregate so
    any disagreement between the two parsers breaks parity (max uses the
    from_json path, the rest get_json_object).  Malformed payloads parse
    to NULL on both engines (Spark natively; the oracle via its
    json_valid CASE — R10_BADJSON_PLAN)."""
    e = load_table(spark, sf_dir, "events")
    # try_cast: ANSI cast of an extracted '1.5'/'true' string CRASHES
    # where the oracle's strict string mirror NULLs (review catch)
    k_path = F.expr("try_cast(get_json_object(props, '$.k') AS INT)")
    # try_parse_json gate: from_json keeps the LAST duplicate key while
    # json_extract takes the FIRST — ambiguous payloads yield NULL on
    # both sides (review catch: the max_k lane silently diverged)
    k_struct = F.when(
        F.try_parse_json("props").isNotNull(), F.from_json("props", "k INT")["k"]
    )
    return (
        e.select("event_type", k_path.alias("k1"), k_struct.alias("k2"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k1"), 6).alias("avg_k"),
            F.max("k2").alias("max_k"),
            F.min("k1").alias("min_k"),
        )
    )


_CAST_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR)                       AS key_str,
       CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT)       AS key_rt,
       CAST(floor(o_totalprice) AS BIGINT)               AS price_floor,
       CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE)     AS price_rt,
       CAST(o_orderdate AS DATE)                         AS od,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)        AS od_str,
       TRY_CAST(o_orderpriority AS INT)                  AS pri_int,
       TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri_num,
       CAST(o_totalprice > 150000 AS INT)                AS big_flag
FROM orders
"""


@register("fn_cast_types", oracle=_CAST_ORACLE, tier="T2")
def fn_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast family.  double→int goes through floor() on both sides
    because bare CAST rounds in DuckDB but truncates in Spark; '1-URGENT'
    style strings → NULL under try_cast in both engines; double→string→
    double round-trips exactly (shortest-repr printing both sides).

    Round-13 (guide §2.5): per-row cast work on a structurally ONE-task
    scan (single-row-group test file) — parallelize_scan spreads it and
    is a no-op once the scan parallelizes by row groups."""
    from un_datapipeline_spark.scale import parallelize_scan

    o = parallelize_scan(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
        )
    )
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("long").alias("key_rt"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
        F.col("o_totalprice").cast("string").cast("double").alias("price_rt"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_orderdate").cast("date").cast("string").alias("od_str"),
        F.col("o_orderpriority").try_cast("int").alias("pri_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("pri_num"),
        (F.col("o_totalprice") > 150000).cast("int").alias("big_flag"),
    )


_BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255                      AS band,
       o_orderkey | 4096                     AS bor,
       xor(o_orderkey, 255)                  AS bxor,
       o_orderkey << 2                       AS shl,
       o_orderkey >> 3                       AS shr,
       bit_count(o_orderkey)                 AS popcnt
FROM orders
"""


@register("fn_bitwise", oracle=_BITWISE_ORACLE, tier="T2")
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family over keys: and/or/xor, shifts, popcount.  Spark's
    bit_count returns int (DuckDB returns the operand width's type);
    both sides stay in 64-bit lanes so values agree exactly."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(255)).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.bit_count(k).alias("popcnt"),
    )


# ---------------------------------------------------------------------------
# URL parsing
# ---------------------------------------------------------------------------

# source IS NOT NULL (round 9, class 4): a doc with no source has no
# synthesizable URL — Spark's NULL-propagating concat would park it
# under a NULL host with NULL path/query while the oracle still derived
# its path from doc_id, splitting the counts.  A NULL lang, by contrast,
# just means "no query param" (handled below).
_URL_ORACLE = """
SELECT source || '.example.com' AS host,
       count(*) AS n,
       count(DISTINCT '/docs/' || CAST(doc_id AS VARCHAR)) AS n_paths,
       count(DISTINCT lang) AS n_langs
FROM documents
WHERE source IS NOT NULL
GROUP BY source || '.example.com'
"""


@register("fn_url_parse", oracle=_URL_ORACLE, tier="T2")
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL structural parsing: synthesize each doc's canonical URL, then
    recover host / path / query-param with parse_url — the crawl-corpus
    operator that feeds domain-level filtering and dedup.  The oracle
    reconstructs the same fields from the source columns, so the check
    verifies parse_url's decomposition against ground truth.

    Scale shape: parse_url is a per-row JVM expression inside codegen —
    one scan, then a host-keyed rollup whose cardinality is the domain
    count, not the page count."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()  # no source → no URL (see oracle note)
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        # NULL lang = no query param (concat of the pair is NULL there,
        # coalesced to ''); parse_url then yields qlang NULL, which
        # countDistinct skips — matching the oracle's count(DISTINCT lang)
        F.coalesce(F.concat(F.lit("?lang="), F.col("lang")), F.lit("")),
    )
    parsed = d.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("qlang"),
    )
    return parsed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("qlang").alias("n_langs"),
    )


_STRUCT_ORACLE = """
SELECT o_orderkey,
       to_json(struct_pack(key := o_orderkey,
                           prio := o_orderpriority,
                           yr := CAST(year(o_orderdate) AS INT)))::VARCHAR AS order_json,
       struct_pack(head := struct_pack(prio := o_orderpriority)).head.prio AS prio_nested,
       CAST(year(o_orderdate) AS INT) + 0 AS yr_from_struct
FROM orders
WHERE o_orderkey % 41 = 0
ORDER BY o_orderkey
"""


@register("fn_struct_nested", oracle=_STRUCT_ORACLE, tier="T1")
def fn_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct construction, dotted field access through two
    levels, and struct→JSON serialization (the schema shape every
    typed-metadata column — multimodal headers, provenance blocks —
    relies on).  The struct cells themselves never reach the output:
    the driver's canonicalizer takes scalars, so the struct round-trips
    through to_json / field extraction back to strings and ints (both
    engines render {"k":v} JSON byte-identically for int/string fields
    — probed before this was written).  All whole-stage-codegen
    expression work, zero shuffle besides the final sort."""
    o = load_table(spark, sf_dir, "orders")
    order_struct = F.named_struct(
        F.lit("key"), F.col("o_orderkey"),
        F.lit("prio"), F.col("o_orderpriority"),
        F.lit("yr"), F.year("o_orderdate"),
    )
    nested = F.named_struct(
        F.lit("head"), F.named_struct(F.lit("prio"), F.col("o_orderpriority"))
    )
    return (
        o.filter(F.col("o_orderkey") % 41 == 0)
        .select(
            "o_orderkey",
            # ignoreNullFields=false (round 9, class 4 — decision made
            # r08): a NULL struct field must serialize as "prio":null
            # like DuckDB's to_json, not silently vanish from the object
            F.to_json(order_struct, {"ignoreNullFields": "false"}).alias(
                "order_json"
            ),
            nested["head"]["prio"].alias("prio_nested"),
            (order_struct["yr"] + 0).alias("yr_from_struct"),
        )
        .orderBy("o_orderkey")
    )


_TRY_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_quantity / NULLIF(l_linenumber - l_linenumber, 0)   AS div0_null,
       l_quantity / NULLIF(l_discount, 0)                    AS safe_ratio,
       TRY_CAST(concat('x', CAST(l_orderkey AS VARCHAR)) AS BIGINT) AS bad_cast,
       TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT)       AS good_cast
FROM lineitem
WHERE l_orderkey % 61 = 0
ORDER BY l_orderkey, l_linenumber, l_quantity
"""


@register("fn_try_arithmetic", oracle=_TRY_ORACLE, tier="T1")
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_divide (NULL on /0 instead of
    ANSI exception or silent ±Inf), try_cast on garbage and on valid
    input — the functions a 100 TB job uses so one dirty row degrades
    to NULL instead of killing a 6-hour stage.  DuckDB has no
    try_divide, so the oracle encodes the identical semantics as
    x / NULLIF(y, 0); TRY_CAST exists in both.  Pure whole-stage-codegen
    expressions; the WHERE %61 bound is pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 61 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.try_divide(F.col("l_quantity"), F.col("l_linenumber") - F.col("l_linenumber")).alias("div0_null"),
            F.try_divide(F.col("l_quantity"), F.nullif(F.col("l_discount"), F.lit(0))).alias("safe_ratio"),
            F.try_to_number(
                F.concat(F.lit("x"), F.col("l_orderkey").cast("string")), F.lit("999999999")
            ).cast("long").alias("bad_cast"),
            F.col("l_orderkey").cast("string").try_cast("long").alias("good_cast"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    )


# Unicode-category classes, not [A-Z]/[a-z]/[0-9]: Spark's mask() masks
# by strict Unicode general category (pinned empirically on 4.1.2:
# é→x, İ→X, Arabic-Indic ٣→n, while contributory-set chars like ª º
# stay UNMASKED), so an ASCII-class oracle silently diverges on any
# non-ASCII letter (caught by the round-7 --unicode sweep).  RE2's
# \p{Lu}/\p{Ll}/\p{Nd} match that on the whole BMP, including ª º
# (category Lo — neither engine masks them).  The real residual
# (round-7 review): mask() classifies per UTF-16 CODE UNIT, so
# supplementary-plane cased letters and digits (𝐀 U+1D400 math-bold,
# Adlam/Deseret/Osage) appear to it as two uncased surrogates and pass
# through, while RE2's codepoint classes mask them — the oracle
# contract is therefore BMP text; the --unicode sweep corpus keeps its
# astral entries to emoji (So), which both engines skip.
_MASK_ORACLE = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         substr(text, 1, 40), '\p{Lu}', 'X', 'g'), '\p{Ll}', 'x', 'g'),
         '\p{Nd}', 'n', 'g') AS masked_head,
       CAST(length(regexp_replace(substr(text, 1, 40), '[^0-9]', '', 'g')) AS INT)
         AS n_digits
FROM documents
WHERE doc_id % 13 = 0
ORDER BY doc_id
"""


@register("fn_mask_redact", oracle=_MASK_ORACLE, tier="T1")
def fn_mask_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class masking (upper→X, lower→x, digit→n) over document
    heads via Spark's built-in `mask` — the display-redaction primitive
    for logs/samples of sensitive corpora (llm_pii_redact is the
    pattern-level cousin).  DuckDB has no mask(), so the oracle applies
    the same three character-class regexp_replace passes with UNICODE
    category classes (see _MASK_ORACLE's comment); other characters pass
    through on both engines (mask's other-char default).  n_digits stays
    an ASCII [0-9] count on both sides (a deliberate contrast with the
    \\p{Nd} masking lane).  Row-local expressions only."""
    d = load_table(spark, sf_dir, "documents")
    head = F.substring("text", 1, 40)
    return (
        d.filter(F.col("doc_id") % 13 == 0)
        .select(
            "doc_id",
            F.mask(head, F.lit("X"), F.lit("x"), F.lit("n"), F.lit(None)).alias(
                "masked_head"
            ),
            F.length(F.regexp_replace(head, "[^0-9]", "")).alias("n_digits"),
        )
        .orderBy("doc_id")
    )


_CODEC_ORACLE = """
SELECT doc_id,
       base64(encode(substr(text, 1, 30)))          AS b64,
       lower(hex(encode(substr(text, 1, 10))))      AS hex10,
       CAST(octet_length(encode(text)) AS BIGINT)   AS n_bytes,
       substr(text, 1, 30) = decode(from_base64(base64(encode(substr(text, 1, 30)))))
         AS roundtrip_ok
FROM documents
WHERE doc_id % 19 = 0
ORDER BY doc_id
"""


@register("fn_binary_codecs", oracle=_CODEC_ORACLE, tier="T1")
def fn_binary_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary transport codecs: base64 encode + decode roundtrip, hex
    rendering, byte length — the serialization shims for binary columns
    crossing JSON/text boundaries (multimodal payload manifests).  Both
    engines implement RFC 4648 base64 and hex over the same utf-8
    bytes; the roundtrip equality column proves losslessness inside the
    query itself.  Row-local, codegen-friendly."""
    d = load_table(spark, sf_dir, "documents")
    head30 = F.encode(F.substring("text", 1, 30), "utf-8")
    return (
        d.filter(F.col("doc_id") % 19 == 0)
        .select(
            "doc_id",
            F.base64(head30).alias("b64"),
            F.lower(F.hex(F.encode(F.substring("text", 1, 10), "utf-8"))).alias("hex10"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
            (
                F.substring("text", 1, 30)
                == F.decode(F.unbase64(F.base64(head30)), "utf-8")
            ).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


_AES_ORACLE = """
SELECT doc_id,
       CAST((len(text) // 16 + 1) * 16 AS INT) AS cipher_bytes,
       -- NULL plaintext (round 9, class 4): standard SQL says
       -- encrypt(NULL) is NULL, so the roundtrip equality is NULL too —
       -- the unconditional TRUE only holds for present documents
       CAST(CASE WHEN text IS NULL THEN NULL ELSE 1 END AS BOOLEAN)
         AS roundtrip_ok
FROM documents
WHERE doc_id % 23 = 0
ORDER BY doc_id
"""


@register("fn_aes_roundtrip", oracle=_AES_ORACLE, tier="T1")
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface: aes_encrypt / aes_decrypt
    roundtrip per document (at-rest field protection for sensitive
    columns travelling through a shared lake).  ECB mode is used ONLY
    because it's deterministic and thus testable — the docstring-level
    guidance for production is GCM, whose random IV defeats equality
    checks by design.  DuckDB has no AES, so the oracle checks the two
    provable invariants from the OUTSIDE: PKCS#7 ciphertext length
    ((n÷16+1)·16 — probed) and in-query decrypt∘encrypt == plaintext.
    All JVM-side expression work."""
    d = load_table(spark, sf_dir, "documents")
    cipher = F.expr(
        "aes_encrypt(text, '0123456789abcdef', 'ECB')"
    )
    plain_again = F.expr(
        "cast(aes_decrypt(aes_encrypt(text, '0123456789abcdef', 'ECB'), "
        "'0123456789abcdef', 'ECB') as string)"
    )
    return (
        d.filter(F.col("doc_id") % 23 == 0)
        .select(
            "doc_id",
            F.length(cipher).alias("cipher_bytes"),
            (plain_again == F.col("text")).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


_ARRAYSET_ORACLE = """
WITH t AS (
  SELECT o_orderkey,
         string_split(o_orderpriority, '-') AS a,
         string_split(o_orderstatus || '-' || substr(o_orderpriority, 1, 1), '-') AS b
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o_orderkey,
       array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS union_ab,
       array_to_string(list_sort(list_intersect(a, b)), ',')             AS inter_ab,
       array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), ',')
         AS except_ab,
       CAST(len(list_distinct(list_concat(a, b))) AS INT)               AS n_union
FROM t
ORDER BY o_orderkey
"""


@register("fn_array_set_ops", oracle=_ARRAYSET_ORACLE, tier="T1")
def fn_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra — union/intersect/except on array columns (tag
    lists, token sets).  Spark's array_union/array_intersect/array_except
    and DuckDB's list_* cousins agree on SET semantics but NOT element
    order, so every result is array_sort-ed and serialized to a joined
    string before comparison (raw array cells also crash the driver's
    canonicalizer — ROUND_NOTES).  DuckDB's list_except isn't in this
    build, so the oracle spells it as a list_filter/contains lambda.
    Row-local expression work only."""
    o = load_table(spark, sf_dir, "orders")
    a = F.split("o_orderpriority", "-")
    b = F.split(
        F.concat_ws("-", F.col("o_orderstatus"), F.substring("o_orderpriority", 1, 1)),
        "-",
    )
    return (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("union_ab"),
            F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("inter_ab"),
            F.array_join(F.array_sort(F.array_except(a, b)), ",").alias("except_ab"),
            F.size(F.array_union(a, b)).alias("n_union"),
        )
        .orderBy("o_orderkey")
    )


_UUID_ORACLE = """
WITH h AS (
  SELECT o_orderkey, md5('order:' || o_orderkey) AS hx FROM orders
)
SELECT o_orderkey,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-' ||
       substr(hx, 13, 4) || '-' || substr(hx, 17, 4) || '-' ||
       substr(hx, 21, 12) AS surrogate_uuid
FROM h
ORDER BY o_orderkey
LIMIT 500
"""


@register("fn_uuid_deterministic", oracle=_UUID_ORACLE, tier="T1")
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key minting: UUID-shaped identifiers
    derived from the natural key via a namespaced md5 (the UUIDv3/v5
    construction, minus the RFC variant bits, which would make the
    string engine-specific to patch in).  The property that matters at
    100 TB: UNLIKE uuid() or monotonically_increasing_id(), the minted
    key is a pure function of the row — re-running the pipeline, or
    running it on a different partitioning, yields the SAME ids, so
    incremental loads and cross-run joins stay stable.  Pure
    column-expression plan (scan → project), no shuffle at all; the
    LIMIT here just bounds the verified sample."""
    o = load_table(spark, sf_dir, "orders")
    hx = F.md5(F.concat(F.lit("order:"), F.col("o_orderkey").cast("string")))
    return (
        o.select(
            "o_orderkey",
            F.concat_ws(
                "-",
                F.substring(hx, 1, 8),
                F.substring(hx, 9, 4),
                F.substring(hx, 13, 4),
                F.substring(hx, 17, 4),
                F.substring(hx, 21, 12),
            ).alias("surrogate_uuid"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


# Coverage is over PRICED orders (round 9, class 4): an unpriced order
# can never fall under any threshold, so with >10% NULL prices the 90%
# target is unreachable and the doubling loop overflows BIGINT.  Both
# sides use the non-NULL count as the denominator.
_SQL_SCRIPT_ORACLE = f"""
WITH cents AS (
  SELECT {cents_sql("o_totalprice")} AS c FROM orders
  WHERE o_totalprice IS NOT NULL
), tot AS (
  SELECT count(*) AS n FROM cents
), ks AS (
  SELECT k, CAST(power(2, k) AS BIGINT) AS thr FROM generate_series(21, 40) t(k)
), cov AS (
  SELECT k, thr, (SELECT count(*) FROM cents WHERE c <= thr) AS n_below, n
  FROM ks CROSS JOIN tot
)
SELECT CAST(thr AS BIGINT) AS threshold_cents,
       CAST(n_below AS BIGINT) AS n_below,
       CAST(n AS BIGINT) AS n_total,
       ROUND(n_below * 1.0 / n, 6) AS coverage
FROM cov
WHERE n_below * 10 >= n * 9
ORDER BY k LIMIT 1
"""


@register("fn_sql_scripting", oracle=_SQL_SCRIPT_ORACLE, tier="T2")
def fn_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN…END with DECLARE / WHILE control
    flow): an iterative threshold search — double a candidate price cap
    until it covers ≥90% of orders (seeded at 2^20 cents so the loop
    converges in a handful of rounds) — written as a multi-statement SQL
    script the engine executes server-side, state held in script-local
    variables (note: inside a script the assignment form is
    ``SET x = …``; the standalone ``SET VAR`` form fails to parse —
    probed).  Scripting moves driver-side orchestration loops INTO the
    SQL surface; each loop iteration is still a distributed aggregate,
    so the pattern scales exactly like the hand-rolled loop in
    llm_kmeans_cluster but without any Python driver logic.  The oracle
    replays the search closed-form (smallest power of two with 90%
    coverage) over generate_series — proving the script's fixpoint, not
    just its syntax."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    return spark.sql(
        f"""
        BEGIN
          DECLARE thr BIGINT DEFAULT 1048576;
          DECLARE n_total BIGINT;
          DECLARE n_below BIGINT DEFAULT 0;
          -- count(col) skips NULL prices: the coverage denominator must
          -- be reachable or the doubling loop overflows (oracle note)
          SET n_total = (SELECT count(o_totalprice) FROM script_orders);
          WHILE n_below * 10 < n_total * 9 DO
            SET thr = thr * 2;
            SET n_below = (
              SELECT count(*) FROM script_orders
              WHERE {cents_sql("o_totalprice")} <= thr
            );
          END WHILE;
          SELECT thr AS threshold_cents,
                 n_below,
                 n_total,
                 CAST(round(n_below * 1.0 / n_total, 6) AS DOUBLE) AS coverage;
        END
        """
    )


_SQL_VARS_ORACLE = f"""
SELECT '1-URGENT' AS prio,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS cents
FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@register("fn_sql_variables", oracle=_SQL_VARS_ORACLE, tier="T2")
def fn_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + EXECUTE IMMEDIATE (Spark 4): a parameterized
    query executed through the engine's own templating instead of Python
    string interpolation — DECLARE VARIABLE holds the parameter, the
    query text references it, EXECUTE IMMEDIATE … USING binds it.  This
    is the SQL-injection-safe parameterization path for tools built on
    the engine; the variable resolves at plan time, so predicates on it
    still push down to the scan exactly like a literal."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE target_prio STRING")
    spark.sql("SET VAR target_prio = '1-URGENT'")
    return spark.sql(
        f"""
        EXECUTE IMMEDIATE
          'SELECT ? AS prio, count(*) AS n,
                  sum({cents_sql("o_totalprice")}) AS cents
           FROM var_orders WHERE o_orderpriority = ?'
          USING target_prio, target_prio
        """
    )


# json_usable guard (round 10, R10_BADJSON_PLAN): the parse lanes are
# gated by Spark's variant-parser acceptance on BOTH sides — DuckDB's
# ->> throws on truncated JSON where Spark NULLs, json_extract takes
# the FIRST duplicate key where from_json keeps the LAST (so dup-key
# payloads are excluded outright, matching the Spark-side
# try_parse_json gate), and TRY_CAST covers a wrong-typed k.
# The WHERE EXISTS gate mirrors the Spark side's no-inferable-sample
# short-circuit (review catch): when none of the 64 longest props is
# clean the op returns its declared 0-row frame, so the oracle must go
# empty too, not aggregate the raw rows.  The value lanes use the
# strict integer mirror of from_json (fractional/string/bool k is NULL,
# never coerced).
_JSON_INFER_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN {json_usable_sql()}
                THEN {json_long_strict_sql()} END) AS BIGINT) AS sum_k,
       CAST(max(CASE WHEN {json_usable_sql()}
                THEN {json_long_strict_sql()} END) AS BIGINT) AS max_k
FROM events
WHERE EXISTS (
  SELECT 1 FROM (
    SELECT props FROM events WHERE props IS NOT NULL
    ORDER BY len(props) DESC, props LIMIT 64
  ) c WHERE {json_usable_sql('c.props')}
)
GROUP BY event_type
ORDER BY event_type
"""


@register("fn_json_schema_infer", oracle=_JSON_INFER_ORACLE, tier="T2")
def fn_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema INFERENCE for semi-structured columns: schema_of_json
    samples one representative value to derive a struct schema, and the
    whole column is then parsed with from_json against it — the
    two-step that turns a string column into typed nested data without
    hand-writing the schema (the batch analog of read.json inference).
    The audit aggregates the PARSED fields and must match DuckDB's
    independent JSON-path extraction — proving the inferred schema
    parsed every row correctly, not just the sampled one.  Scale note:
    inference costs one driver-side parse of ONE sampled value (bounded
    collect by design); parsing is then a pure column expression.  The
    trap this op documents: fields missing from the SAMPLED row are
    dropped for every row — sample a MAXIMAL value (here via the
    longest props string) or union-merge several samples in
    production.

    Sample hygiene (round 10): the inference sample must be VALID
    single-key JSON — a malformed candidate has no schema, and a
    duplicate-key object has no well-defined struct (Spark keeps both
    keys → AMBIGUOUS_REFERENCE downstream; DuckDB keeps the last —
    exclusion is the only parity-safe call, R10_BADJSON_PLAN).  The
    driver scans a bounded candidate list (longest-first, the same
    maximal-sample order) and takes the first clean one.  A corpus with
    NO inferable sample — day-one empty table (R10_EMPTY_PLAN class 3)
    or all-corrupt props — yields the op's declared 0-row schema:
    empty is a legitimate answer to an uninferable input."""
    import json

    e = load_table(spark, sf_dir, "events")
    cands = (
        e.select("props")
        .filter(F.col("props").isNotNull())
        .orderBy(F.length("props").desc(), "props")
        .limit(64)
        .collect()
    )  # bounded candidate list — driver cost is the literal, not data

    def _clean(s: str) -> bool:
        # EXACT mirror of tables.json_usable_sql (ADVICE r10: the two
        # "no inferable sample" gates must agree on every corpus):
        # strict-token JSON — NaN/Infinity constants rejected, matching
        # both the SQL predicate's lexical test and Spark's variant
        # parser — plus TOP-LEVEL key uniqueness ONLY.  Spark rejects
        # nested duplicate keys too, but the oracle's json_keys walk
        # cannot, so this gate deliberately checks one level to stay in
        # lockstep (fixture-tripwired residual, see json_usable_sql).
        def reject_constant(_tok):
            raise ValueError("non-strict constant")

        top_keys: list[str] = []

        def hook(pairs):
            # fires per object, OUTERMOST last — ends as the top level
            top_keys[:] = [k for k, _ in pairs]
            return dict(pairs)

        try:
            obj = json.loads(
                s, object_pairs_hook=hook, parse_constant=reject_constant
            )
        except ValueError:
            return False
        if isinstance(obj, dict):
            return len(top_keys) == len(set(top_keys))
        return True

    sample = next((r[0] for r in cands if _clean(r[0])), None)
    if sample is None:
        return spark.createDataFrame(
            [], "event_type string, n long, sum_k long, max_k long"
        )
    schema_str = spark.range(1).select(
        F.schema_of_json(F.lit(sample)).alias("s")
    ).collect()[0][0]
    # try_parse_json gate: rows the variant parser rejects (malformed OR
    # duplicate-key) contribute NULL — from_json alone would keep the
    # LAST duplicate key where the oracle's json_extract takes the
    # FIRST, a silent value drift (R10_BADJSON_PLAN)
    parsed = e.select(
        "event_type",
        "props",
        F.when(
            F.try_parse_json("props").isNotNull(),
            F.from_json("props", schema_str),
        ).alias("p"),
    )
    # Value-lane hygiene (review stress): the inferred schema follows
    # the MAXIMAL sample, so from_json's per-row coercion is
    # SCHEMA-DEPENDENT — a beyond-int64 integer sample infers
    # DECIMAL(20,0), under which 1.5 ROUNDS to 2, the string "7"
    # COERCES to 7, and the huge row itself CAST_OVERFLOWs an ANSI
    # cast.  The aggregate therefore masks to rows whose k is an
    # in-range integer JSON NUMBER (schema_of_variant = BIGINT — the
    # probed mirror of the oracle's json_type BIGINT/UBIGINT guard) and
    # try_casts — the parsed struct p.k still feeds the lane, so the
    # hash match keeps proving the inferred schema parsed every counted
    # row.
    k_is_int = (
        F.expr("schema_of_variant(try_variant_get(try_parse_json(props), '$.k'))")
        == "BIGINT"
    )
    kv = F.when(k_is_int, F.col("p.k").try_cast("long"))
    return (
        parsed.select("event_type", "props", "p")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(kv).alias("sum_k"),
            F.max(kv).alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

# One SQL text, executed verbatim by BOTH engines: the recursion itself is
# the oracle (DuckDB has supported WITH RECURSIVE for years; Spark gained
# it in 4.0).  The hierarchy is the heap-shaped supplier tree
# parent(k) = floor(k / 2), so depth grows as log2(n) and the recursive
# join is a plain EQUI-join on the derived parent key — a hash join per
# iteration, never a nested loop.
_RECURSIVE_CTE_SQL = f"""
WITH RECURSIVE chain AS (
  SELECT s_suppkey AS k, 0 AS depth,
         {cents_sql("s_acctbal")} AS cents
  FROM rc_supplier WHERE s_suppkey = 1
  UNION ALL
  SELECT s.s_suppkey AS k, c.depth + 1 AS depth,
         {cents_sql("s.s_acctbal")} AS cents
  FROM rc_supplier s JOIN chain c
    ON CAST(FLOOR(s.s_suppkey / 2) AS BIGINT) = c.k
)
SELECT CAST(depth AS BIGINT)      AS depth,
       CAST(count(*) AS BIGINT)   AS n_nodes,
       CAST(min(k) AS BIGINT)     AS min_key,
       CAST(max(k) AS BIGINT)     AS max_key,
       CAST(sum(cents) AS BIGINT) AS bal_cents
FROM chain GROUP BY depth ORDER BY depth
"""

# Identical text; only the view name differs (driver pre-registers the
# bare table names as DuckDB views).
_RECURSIVE_CTE_ORACLE = _RECURSIVE_CTE_SQL.replace("rc_supplier", "supplier")


@register("fn_recursive_cte", oracle=_RECURSIVE_CTE_ORACLE, tier="T2")
def fn_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): multi-hop
    hierarchy traversal the single-pass relational algebra can't express
    — here a heap-shaped supplier reporting tree (parent(k) = k DIV 2)
    walked from the root, aggregating headcount and balance per depth.

    The SAME SQL text runs on both engines (DuckDB's mature recursive
    CTE is the oracle), so the hash match certifies Spark's recursion
    semantics — seed row, iterated equi-join, union-all accumulation,
    termination — not just this query's arithmetic.

    Scale shape: each iteration is one distributed hash join of the
    frontier against the (pruned, 2-column) node table; iteration count
    is the hierarchy DEPTH (log2 n here, ~40 for a 1T-row heap), not the
    node count.  The frontier never leaves the cluster — this is the
    same loop shape as llm_dedup_cluster's connected components, but
    expressed declaratively and terminated by the engine
    (spark.sql.cteRecursionLevelLimit guards runaways, default 100)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("rc_supplier")
    return spark.sql(_RECURSIVE_CTE_SQL)


_PARAMS_ORACLE = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
         AS cents
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("fn_params_identifier", oracle=_PARAMS_ORACLE, tier="T2")
def fn_params_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL + IDENTIFIER() dynamic object reference
    (Spark 4): the query template binds the table NAME through
    IDENTIFIER(:tbl) and the date window through :lo/:hi typed
    parameters — the engine-native, injection-safe alternative to Python
    f-string SQL assembly (complements fn_sql_variables, which covers
    the EXECUTE IMMEDIATE ... USING path).  Parameters resolve at parse
    time, so the date predicates still push down to the parquet scan
    exactly like literals (same plan as the constant-folded oracle)."""
    import datetime

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               count(*) AS n,
               sum({cents_sql("o_totalprice")}) AS cents
        FROM IDENTIFIER(:tbl)
        WHERE o_orderdate >= :lo AND o_orderdate < :hi
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={
            "tbl": "param_orders",
            "lo": datetime.date(1995, 1, 1),
            "hi": datetime.date(1996, 1, 1),
        },
    )


_MONTH_ARITH_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT)                                   AS n,
       CAST(sum(day(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE))) AS BIGINT)
         AS sum_day_p1m,
       CAST(sum(day(CAST(o_orderdate - INTERVAL 3 MONTH AS DATE))) AS BIGINT)
         AS sum_day_m3m,
       CAST(sum(day(last_day(o_orderdate))) AS BIGINT)            AS sum_day_eom,
       CAST(count(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE))
            AS BIGINT)                                            AS n_months,
       CAST(sum(day(last_day(o_orderdate)) - day(o_orderdate)) AS BIGINT)
         AS sum_days_to_eom
FROM orders
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("fn_month_arithmetic", oracle=_MONTH_ARITH_ORACLE, tier="T2")
def fn_month_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month arithmetic parity: add_months / last_day /
    date_trunc('month') — the operations whose END-OF-MONTH CLAMPING
    rules silently diverge across SQL dialects (Jan 31 + 1 month: both
    engines clamp to Feb 29/28; some engines overflow to Mar 2).  The
    oracle expresses the same arithmetic in DuckDB's interval dialect
    (d + INTERVAL 1 MONTH, clamping), so the hash match pins the clamp
    behavior over ~7 years of real order dates including leap years —
    the aggregates sum DAY-OF-MONTH of every shifted date, which any
    clamp divergence perturbs immediately.  All pure column expressions;
    whole-stage codegen, no shuffle beyond the final group."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.dayofmonth(F.add_months("o_orderdate", 1)))
            .cast("long")
            .alias("sum_day_p1m"),
            F.sum(F.dayofmonth(F.add_months("o_orderdate", -3)))
            .cast("long")
            .alias("sum_day_m3m"),
            F.sum(F.dayofmonth(F.last_day("o_orderdate")))
            .cast("long")
            .alias("sum_day_eom"),
            F.countDistinct(F.trunc("o_orderdate", "month"))
            .cast("long")
            .alias("n_months"),
            F.sum(
                F.dayofmonth(F.last_day("o_orderdate"))
                - F.dayofmonth("o_orderdate")
            )
            .cast("long")
            .alias("sum_days_to_eom"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB shared dialect)
# ---------------------------------------------------------------------------

# One SQL text, executed verbatim by BOTH engines (the fn_recursive_cte
# contract): GROUP BY ALL infers the grouping set from the non-aggregate
# select items, ORDER BY ALL sorts by every output column left-to-right.
_GBALL_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT)
         AS price_cents
FROM gba_lineitem
GROUP BY ALL ORDER BY ALL
"""

_GBALL_ORACLE = _GBALL_SQL.replace("gba_lineitem", "lineitem")


@register("fn_group_by_all", oracle=_GBALL_ORACLE, tier="T2")
def fn_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the modern-SQL ergonomic surface
    (DuckDB popularized it; Spark supports both since 3.4/4.0): the
    grouping key list is INFERRED from the select list's non-aggregate
    items, and ORDER BY ALL totals-orders the output by every column.
    The SAME text runs on both engines, so the hash match certifies the
    inference rule itself — which select items become keys, and the
    left-to-right ordering contract — not just this query's sums.

    Matters operationally because analysts paste these queries between
    warehouses; an engine that inferred a different key set would
    produce silently different grain.  Plan-wise it lowers to exactly
    the plain hash agg of agg_pricing_summary (partial + final,
    whole-stage codegen) — sugar, zero physical cost."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "gba_lineitem"
    )
    return spark.sql(_GBALL_SQL)

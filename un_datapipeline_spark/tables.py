"""Canonical loaders for the ten testdata tables (FIXTURES.md).

All operators load inputs through ``load_table`` so the one data-model
hazard — the physical type of ``events.ts`` — is fixed in exactly one
place.  The generator has shipped two layouts across rounds:

* parquet ``timestamp[ns]`` (rounds 1-2): read as int64 under
  ``nanosAsLong`` and converted with **integer** division (``ts div
  1000`` — float division mismatches ~12% of rows; ns epochs exceed
  2^53), then ``timestamp_micros``;
* parquet ``timestamp[us]`` (round 3+): arrives as TIMESTAMP_NTZ
  natively; cast to session-timezone TIMESTAMP (session is pinned UTC,
  so the wall-clock is preserved and epoch math matches DuckDB's naive
  TIMESTAMP exactly).

``_normalize_events_ts`` dispatches on the loaded dtype so either layout
produces the same logical schema: ``ts TIMESTAMP`` at µs precision.

At 100 TB these reads stay scan-friendly: loaders never cache, never
collect, and return raw DataFrames so Catalyst can push predicates and
prune columns down into the parquet scan of whatever query composes them.

Opening a table launches no Spark job.  ``read_parquet`` reads the schema
from one footer on the driver, with Spark's own footer reader and type
converter, and hands it to the reader; a schema-less
``spark.read.parquet`` would run a schema-merge job per table even when
it is not merging.  Spark's inference is kept only where it does more
than read one footer: partition discovery, ``mergeSchema``, no data file.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from un_datapipeline_spark.session import ensure_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they are
# fixed-cardinality); supplier/customer/part are broadcastable at test
# scale and size-gated by Spark's autoBroadcastJoinThreshold in general.
ALWAYS_BROADCAST_DIMS = ("region", "nation")


# (application id, sf_dir, table) -> DataFrame.  Caches the ANALYZED
# relation (schema + file listing), not data: repeated operator calls
# skip re-listing and the footer read.  Testdata files are immutable for
# a session's lifetime, so reuse is safe.
# Keyed on applicationId (not id(spark)): a stopped session's id() can be
# reused by a new SparkSession, which would hand out DataFrames bound to
# the dead context; applicationId is unique per SparkContext lifetime.
# PySpark allows one live SparkContext per process, so an insert drops
# every other application's entries: a restarted session does not keep
# the dead one's JVM Datasets pinned.
_LOAD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame, without a Spark job.

    The schema comes from the file footer on the driver
    (:func:`read_parquet`; schemas travel in the footers and match
    FIXTURES.md).  ``events`` gets the ns→µs timestamp normalization and
    the non-finite measurement contract applied; every other table is a
    plain parquet scan.
    """
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    ensure_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_value(_normalize_events_ts(df))
    for stale in [k for k in _LOAD_CACHE if k[0] != app]:
        del _LOAD_CACHE[stale]
    _LOAD_CACHE[key] = df
    return df


# gateway -> the JVM handles of the footer read.  Each py4j class lookup
# is a reflective round trip; resolving them once per gateway halves the
# cost of a table open.
_FOOTER_JVM: dict = {}

_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _footer_jvm(spark: SparkSession) -> dict:
    gateway = spark.sparkContext._gateway
    if gateway not in _FOOTER_JVM:
        jvm = spark._jvm
        fmt = getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$")
        _FOOTER_JVM.clear()
        _FOOTER_JVM[gateway] = {
            "format": fmt.__getattr__("MODULE$"),
            "path": jvm.org.apache.hadoop.fs.Path,
            "to_seq": jvm.PythonUtils.toSeq,
            "wrap": jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray,
            "by_path": jvm.scala.math.Ordering.comparatorToOrdering(
                jvm.java.util.Comparator.naturalOrder()  # FileStatus orders by path
            ),
            "visible": jvm.org.apache.parquet.hadoop.util.HiddenFileFilter.INSTANCE,
        }
    return _FOOTER_JVM[gateway]


def _footer_file(jvm: dict, fs, path):
    """The file whose footer Spark's non-merging inference reads
    (``ParquetUtils.inferSchema``): ``_common_metadata``, else
    ``_metadata``, else the first data file by sorted path (names starting
    with ``_`` or ``.`` are not data).  ``None`` when inference does more
    than read that footer: a directory with subdirectories (partition
    discovery, a streaming sink's log) or no data file (Spark's
    UNABLE_TO_INFER_SCHEMA).  A constant number of JVM calls, whatever
    the number of files."""
    status = fs.getFileStatus(path)
    if not status.isDirectory():
        return status
    if fs.getContentSummary(path).getDirectoryCount() > 1:
        return None
    for name in _SUMMARY_FILES:
        summary = jvm["path"](path, name)
        if fs.exists(summary):
            return fs.getFileStatus(summary)
    data = fs.listStatus(path, jvm["visible"])
    if len(data) == 0:
        return None
    return jvm["wrap"](data).min(jvm["by_path"])


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema read on the driver.

    Spark's schema inference always runs a schema-merge job, even when it
    is not merging; this reads the one footer that inference would read,
    with Spark's own code (``readParquetFootersInParallel``, a driver
    thread pool, then ``readSchema``, which applies the session's
    converter confs — nanosAsLong, int96, NTZ inference — and the Spark
    row metadata of Spark-written files), and passes the schema to the
    reader.  Spark's inference still runs where it does more: a directory
    with subdirectories, ``spark.sql.parquet.mergeSchema=true``, no data
    file, a path that names no file or directory (a glob), or a corrupt
    footer skipped under ``ignoreCorruptFiles``.
    """
    schema = None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() != "true":
        schema = _footer_schema(spark, path)
    if schema is None:
        # Spark's own inference, and its errors (PATH_NOT_FOUND,
        # UNABLE_TO_INFER_SCHEMA) for inputs the footer read leaves out.
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    from py4j.protocol import Py4JJavaError

    jvm = _footer_jvm(spark)
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    try:
        jpath = jvm["path"](path)
        footer_file = _footer_file(jvm, jpath.getFileSystem(conf), jpath)
    except Py4JJavaError:  # not a file or directory: left to Spark's error
        return None
    if footer_file is None:
        return None
    footers = jvm["format"].readParquetFootersInParallel(
        conf, jvm["to_seq"]([footer_file]), state.conf().ignoreCorruptFiles()
    )
    found = jvm["format"].readSchema(footers, spark._jsparkSession)
    if found.isEmpty():
        return None
    return StructType.fromJson(json.loads(found.get().json()))


# Ingest contract (engine-wide): NON-FINITE measurements are MISSING.
# A real 100 TB event feed carries NaN/±Inf in its float measure column
# (sensor glitches, upstream 0/0) and the two engines disagree wildly
# downstream of one: Spark's ANSI snap lanes crash (CAST_OVERFLOW on
# Inf·1e8), DuckDB's stddev raises "out of range" on Inf, and NaN
# ordering differs by context.  SQL's missing-value machinery (NULL is
# skipped by every aggregate on both engines) is the one representation
# with identical semantics everywhere, so the loader maps non-finite →
# NULL at the scan boundary — the standard sanitize-at-ingest rule.
# Round 10 extends the same rule to ABSURD MAGNITUDES: a finite value
# beyond the exact-cents representable domain is a unit bug or a
# mis-parsed id column, not a measurement (R10_MAGNITUDE_PLAN.md — 44
# ops crashed on one 1e18 row: the exact-cents CAST(round(value*100) AS
# BIGINT) lane overflows int64 at |value| > ~9.2e16).  Round 11 RAISES
# the bound from the original 1e12 to 9e15 (ADVICE r10, medium): both
# engines compute the exact-cents lane correctly all the way to the
# int64 CAST bound, and the grading driver compares against PLAIN
# oracle views, so every legitimately-large value the clamp voids is a
# WHOLESALE mismatch across all ~100 value-consuming ops.  9e15 keeps a
# 10x margin below the per-element CAST overflow (max surviving |cents|
# = 9e17, so ~10 same-sign near-max rows still sum inside int64) while
# only voiding values no 2-decimal feed can represent exactly anyway
# (2^53 cents ~ 9.007e15).  Documented residuals of the raised bound:
# (a) BULK same-sign near-max values (>~10 per aggregation group) can
# overflow int64 first-moment sums — that is a broken feed, not sparse
# corruption, and both engines fail loudly rather than silently; (b)
# SECOND-moment (cents^2) lanes overflow int64 per-element at surviving
# |value| > ~3e7, so every Sigma-cents^2 op accumulates in 128-bit exact
# arithmetic instead (Spark DECIMAL(38,0) / DuckDB HUGEINT — see
# cents2_sum / cents2_sum_sql below).  Tiny values (1e-300) are
# deliberately KEPT — they round to 0 cents exactly like 0.001 does;
# snapping denormals would be a real deviation.
# Bitwise-neutral on sane finite data: the ELSE branch returns the
# stored double unchanged (including -0.0: isnan(-0.0)=false,
# abs(-0.0)≠Inf, abs(-0.0)<9e15), which is why the shipped corpora
# (2-decimal money under 1e4) and every driver stamp are unaffected.
# tests/oracle_diff.duck_connect applies the same contract to the
# oracle's events view (isnan/isinf/abs REPLACE), so parity sweeps over
# corrupt corpora exercise operator semantics downstream of ingest
# rather than each engine's overflow quirks.
VALUE_MAGNITUDE_BOUND = 9e15

# SQL rendering of the bound, pinned to the float constant by the
# import-time assert (ADVICE r11: the bound was hardcoded independently
# here and in the two harness mirrors, so a future bound change could
# silently de-synchronize the ingest contract from the oracle views —
# now every site interpolates VALUE_MAGNITUDE_SQL and the assert makes
# literal/constant drift an immediate ImportError, while the rendered
# SQL text stays byte-identical to the stamped r11 expressions).
VALUE_MAGNITUDE_SQL = "9e15"
assert float(VALUE_MAGNITUDE_SQL) == VALUE_MAGNITUDE_BOUND

_FINITE_VALUE = (
    "CASE WHEN isnan(value) OR abs(value) = double('Infinity') "
    f"OR abs(value) > {VALUE_MAGNITUDE_SQL} THEN NULL ELSE value END"
)


def normalize_events_value(df: DataFrame) -> DataFrame:
    """Apply the non-finite→NULL measurement contract to ``events.value``
    (shared by the batch loader and the streaming source)."""
    return df.withColumn("value", F.expr(_FINITE_VALUE))


# Exact-cents accumulation (round-11 magnitude-v2 wave).  Plain-double
# Sigma-value lanes are ORDER-DEPENDENT once any surviving |value| is
# large: one kept 9e15 row makes its group's double sum round at integer
# granularity, so Spark's partial-merge order and DuckDB's sequential
# order produce different doubles and ROUND(,4) flips — a parity failure
# nothing downstream can fix.  Exact integer cents are the one
# magnitude-robust representation: identical on any partitioning and on
# both engines.  Accumulators are 128-bit (Spark DECIMAL(38,0) / DuckDB
# HUGEINT — DuckDB's sum(BIGINT) is already HUGEINT) so first moments
# survive bulk near-bound values and second moments (cents^2, int64-
# unsafe past |value| ~ 3e7) survive the full surviving domain: at the
# 9e15 clamp, cents^2 <= 8.1e35 per element, 100x headroom to the
# DECIMAL(38)/HUGEINT ceiling.  At 100 TB this is also the posture that
# makes re-partitioning a no-op for results: integer partial sums merge
# associatively, so AQE / speculative re-execution cannot change answers.
#
# The format has exactly three owners: cents_col (Spark), cents_sql
# (DuckDB) and cents_np (pandas kernels).  Every operator and oracle takes
# its cents from them, and tests/test_scale_lint.py fails on any other
# spelling of round(x * 100) as BIGINT in the package, bar the hash-pinned
# oracle texts it lists.
def cents_col(col: str | Column) -> Column:
    """``round(col*100)`` as BIGINT — exact integer cents of a 2-decimal
    ``col``: a column name (plain or table-qualified) or an expression.
    Safe for the whole surviving magnitude domain (|value| <= 9e15 →
    |cents| <= 9e17, 10x inside int64)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def cents_sum():
    """Order-independent exact Σcents as DECIMAL(38,0).

    Output edge: on the DuckDB side a possibly-NEGATIVE sum that can
    pass 2^53 must go through :func:`exact_double_sql` BEFORE any float
    math INCLUDING ``/ 100.0`` — the naked HUGEINT/DECIMAL→DOUBLE
    conversion mis-rounds negatives (round-12 magneg catalog; the r11
    "division is safe" note was validated on positives only).  Bounded
    or sign-safe sums may divide directly."""
    return F.sum(cents_col("value").cast("decimal(38,0)"))


def cents2_sum():
    """Exact Σcents² as DECIMAL(38,0) — the second-moment lane that
    overflows int64 per-element at surviving |value| > ~3e7."""
    c = cents_col("value").cast("decimal(38,0)")
    return F.sum(c * c)


def cents_np(values):
    """Exact cents for a NaN-free pandas Series of doubles — the numpy
    mirror of :func:`cents_col` for Arrow-batched pandas kernels
    (applyInPandas / applyInPandasWithState lanes).

    Returns an OBJECT-dtype Series of Python ints so downstream
    ``.sum()`` / products are arbitrary-precision (immune to silent
    int64 wrap on adversarial batches).

    Rounding is CORRECTLY half-away-from-zero: the folk kernel
    ``floor(abs(x) + 0.5)`` is wrong on the double just below .5 —
    ``0.49999999999999994 + 0.5`` rounds UP to exactly ``1.0``, so it
    yields 1 cent where Spark's ``F.round`` (BigDecimal HALF_UP on the
    double's exact decimal value) and DuckDB's ``round()`` both yield 0
    (ADVICE r11).  ``ceil(abs(x) - 0.5)`` has no such carry (the
    subtraction is exact for every finite x by Sterbenz), but rounds
    exact halves TOWARD zero — the explicit ``frac == 0.5`` branch sends
    them away, completing half-away for every double."""
    import numpy as np

    v100 = (values * 100.0).to_numpy(dtype="float64")
    a = np.abs(v100)
    r = np.ceil(a - 0.5)
    r = np.where(a - r == 0.5, r + 1.0, r)
    import pandas as pd

    return pd.Series(np.copysign(r, v100)).astype("int64").astype(object)


def cents_sql(col: str) -> str:
    """DuckDB mirror of :func:`cents_col`; ``col`` (a column name or an
    expression) is rendered verbatim, so an expression that binds looser
    than ``*`` must come parenthesized."""
    return f"CAST(round({col} * 100) AS BIGINT)"


def cents_sum_sql() -> str:
    """DuckDB mirror of :func:`cents_sum` — sum(BIGINT) is HUGEINT."""
    return f"sum({cents_sql('value')})"


def cents2_sum_sql() -> str:
    """DuckDB mirror of :func:`cents2_sum` — the HUGEINT cast must happen
    BEFORE the multiply (BIGINT*BIGINT raises on overflow in DuckDB)."""
    c = cents_sql("value")
    return f"sum(CAST({c} AS HUGEINT) * CAST({c} AS HUGEINT))"


def ngram_zip_sql(arr: str, n: str, k: int = 8) -> str:
    """Linear k-gram build for DuckDB oracles: zip of k shifted slices.

    The LATERAL ``array_to_string(arr[i:i+k-1])`` form copies an O(len)
    list slice per generated row — quadratic per document, 167 s for ONE
    520 KB document (round-10 bigdoc probe).  Round-12 refinement: even
    ELEMENT access can go quadratic when the LATERAL correlates on a
    PRECOMPUTED length COLUMN of the list-bearing row (decorrelation
    fails and the plan carries a copy of the list per generated row —
    162 s vs 0.0 s for the identical query computing ``len(list)``
    INSIDE the lateral; probed on the bigdoc corpus, see
    llm_pmi_collocations).  Zipping k bound slices — or parallel unnest
    of bound shifted slices — builds every gram in one linear pass with
    identical output and no planner cliff.  ``arr``
    is the token-array column, ``n`` its length column; renders a
    ``list_transform(list_zip(...), ...)`` whose elements are the
    space-joined k-grams.  Callers guard with ``WHERE n >= k``.
    Consolidated round 11 from three hand-duplicated copies
    (VERDICT r10 item 3 — cosmetic drift had already crept in)."""
    slices = ", ".join(f"{arr}[{i}:{n} - {k - i}]" for i in range(1, k))
    slices += f", {arr}[{k}:{n}]"
    body = " || ' ' || ".join(f"t[{i}]" for i in range(1, k + 1))
    return f"list_transform(\n      list_zip({slices}),\n      t -> {body})"


def exact_double_sql(expr: str) -> str:
    """Correctly-rounded exact-integer → DOUBLE conversion for oracles.

    Two DuckDB promotion traps make naive float math in an oracle
    diverge from Spark (both probed, round 11):

    * ``CAST(hugeint_or_wide_decimal AS DOUBLE)`` MIS-ROUNDS NEGATIVE
      values that need rounding (positives convert correctly — refined
      by the round-12 magneg probe: ~1.6% of random negative wide ints
      land on the wrong neighbor, e.g. -39454012720366565 → …560 where
      IEEE-nearest is …568).  Every ``sum(BIGINT)`` is HUGEINT, so ANY
      possibly-negative Σcents feeding float math — including the
      ``/ 100.0`` output division, which converts first — takes the
      mis-rounding path once |Σ| passes 2^53.  (A single
      ``round(v*100)`` cents value is exactly representable BY
      CONSTRUCTION even past 2^53 — it is the integer value of an
      integer-valued double — so only group SUMS/products expose this.)
    * ``int_expr * 1.0`` promotes to DECIMAL and the whole expression
      evaluates EXACTLY, then rounds once at the end — a more accurate
      answer than Spark's convert-early double math, i.e. a mismatch.

    The VARCHAR round-trip is correctly rounded for any 128-bit value
    (strtod semantics), matching Spark's BigDecimal→double exactly.
    Use this on every HUGEINT/DECIMAL term entering float math; plain
    BIGINT may use ``CAST(x AS DOUBLE)`` directly."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


# Timestamp validity window (per-OPERATOR contract — deliberately NOT an
# ingest rewrite).  One decades-out timestamp per few hundred rows is
# exactly what a real 100 TB feed carries (sweep mode --timewarp),
# and it harms two specific operator classes: (a) RANGE-MATERIALIZING ops
# (grid/spine generators: sequence(min(ts), max(ts)) explodes to a
# 150-year spine off ONE corrupt row — task OOM at cluster scale), and
# (b) WATERMARK ops (monotonic event-time state: one far-future event
# advances the watermark past every honest row and silently drops them).
# Unlike non-finite doubles — which crash whole engine lanes and so get
# the scan-boundary contract above — the blast radius here is bounded to
# those classes, so the proportionate fix is a targeted filter applied
# INSIDE each affected operator and mirrored verbatim in its paired
# oracle (ADVICE r08: keep the graded scan path a faithful mirror; this
# contract adds no ingest deviation).  Events before the Unix epoch or
# more than a decade in the future are parser/sensor corruption in this
# pipeline's domain, not data.  Bitwise-neutral on the shipped corpora
# (all timestamps fall inside the window on both sides of the compare).
# RENEWAL (ADVICE r09): VALID_TS_HI is a FIXED wall-clock bound — a
# moving "now + 10y" window would make results non-deterministic across
# runs, so the constant stays.  But a fixed bound silently decays:
# legitimately-timestamped events past it would be dropped as corruption
# by the four guarded operators.  Renew by 2034-01-01 (tripwire:
# tests/test_degenerate_robustness.py::test_valid_ts_window_not_decayed
# fails once the wall clock comes within two years of the bound).
VALID_TS_LO = "1970-01-01 00:00:00"
VALID_TS_HI = "2035-12-31 23:59:59.999999"


def valid_ts():
    """Column predicate: ``ts`` is inside the validity window.  NULL ts
    yields NULL → row filtered, matching the SQL mirror."""
    return F.col("ts").between(
        F.lit(VALID_TS_LO).cast("timestamp"), F.lit(VALID_TS_HI).cast("timestamp")
    )


def valid_ts_sql() -> str:
    """The DuckDB-side mirror of :func:`valid_ts` — embed in the paired
    oracle wherever the Spark side filters, so parity holds on ANY
    corpus, warped or not."""
    return (
        f"CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '{VALID_TS_LO}' "
        f"AND TIMESTAMP '{VALID_TS_HI}'"
    )


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a µs-precision TIMESTAMP regardless of
    the parquet physical layout (see module docstring)."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # int64 epoch-ns under nanosAsLong; integer div keeps exact µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # timestamp[us] parquet; session tz is UTC so the cast is a pure
        # type relabel (same wall clock, same epoch).
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df  # already TIMESTAMP


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (mirrors the DuckDB oracle side)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Duplicate-surrogate-key contract (round 10, R10_DUPKEYS_PLAN.md)
# ---------------------------------------------------------------------------
# A surrogate key names ONE logical row.  Every real 100 TB feed
# eventually delivers several rows under one key (at-least-once
# delivery, double ingest, re-crawl under a stable id) with DIFFERING
# payloads; an operator whose semantics are keyed per-id must then pick
# a DETERMINISTIC winner on both engines, or it either emits impossible
# values (per-key shingle sets union two texts: Jaccard 1.878) or lets
# each engine pick a different arbitrary row (silent drift).  The
# contract: latest-wins for events (ts, then the full payload as
# tiebreak — a replay can carry the SAME ts, so ts alone is not a total
# order), max-digest-wins for documents (deterministic without a
# timestamp), max-element-sum-wins for embeddings.  Applied INSIDE each
# affected operator and mirrored verbatim in its paired oracle — NOT at
# ingest: 337/351 ops are dup-safe by shape, and a global ingest dedup
# would add a window shuffle to every scan.  Bitwise-neutral on the
# shipped corpora (keys are unique there, so the winner is the only
# row).  At cluster scale the window shuffles on the key the op was
# about to shuffle on anyway.

def winner_per_key(df: DataFrame, key: str, order_cols) -> DataFrame:
    """One deterministic row per ``key``: first row under the given
    DESC-NULLS-LAST total order (Spark desc is NULLS LAST by default —
    pinned explicitly; DuckDB's DESC default is also NULLS LAST, pinned
    in the SQL mirrors)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn("_dup_rn", F.row_number().over(w))
        .filter(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )


_EVENT_ORDER = ("ts", "value", "event_type", "props", "user_id")
_DOC_ORDER = ("md5(text)", "lang", "source", "n_chars")


def latest_event(df: DataFrame) -> DataFrame:
    """events winner: latest ts, full payload tiebreak."""
    return winner_per_key(df, "event_id", _EVENT_ORDER)


def latest_event_sql() -> str:
    """DuckDB mirror of :func:`latest_event` — a FROM-able subquery."""
    order = ", ".join(f"{c} DESC NULLS LAST" for c in _EVENT_ORDER)
    return (
        f"(SELECT * FROM events QUALIFY row_number() OVER "
        f"(PARTITION BY event_id ORDER BY {order}) = 1)"
    )


def winner_document(df: DataFrame) -> DataFrame:
    """documents winner: max md5(text), payload tiebreak."""
    return winner_per_key(
        df.withColumn("_digest", F.md5("text")),
        "doc_id",
        ("_digest", "lang", "source", "n_chars"),
    ).drop("_digest")


def winner_document_sql() -> str:
    """DuckDB mirror of :func:`winner_document`."""
    order = ", ".join(f"{c} DESC NULLS LAST" for c in _DOC_ORDER)
    return (
        f"(SELECT * FROM documents QUALIFY row_number() OVER "
        f"(PARTITION BY doc_id ORDER BY {order}) = 1)"
    )


def winner_embedding(df: DataFrame) -> DataFrame:
    """embeddings winner: max element sum (float64), label tiebreak.
    The sort key is NULL (→ NULLS LAST) for NULL, EMPTY, or
    NULL-element vectors on BOTH engines: Spark's aggregate seeds 0.0 on
    an empty list where DuckDB's list_aggregate gives NULL, and DuckDB
    SKIPS NULL elements (partial sum) where Spark propagates — both
    asymmetries are pinned to NULL explicitly so a corrupt duplicate can
    never win differently per engine."""
    elsum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    key = F.when(
        (F.size("embedding") > 0)
        & (F.size(F.array_compact("embedding")) == F.size("embedding")),
        elsum,
    )
    # the embedding itself joins the tiebreak (review catch): two valid
    # duplicates with EQUAL sums (e.g. a permuted re-embed) would
    # otherwise tie and each engine — and each Spark run — could pick a
    # different winner.  The compared rendering must be NULL-ELEMENT
    # free (ADVICE r10): Spark orders NULL array elements SMALLEST while
    # DuckDB orders them LARGEST, so the raw array is not a cross-engine
    # total order once both duplicates carry NULL elements.  Elements
    # are coalesced to +Infinity (ordered identically on both engines,
    # NaN still greatest on both) and the NULL-position mask joins the
    # chain so a [1,NULL] / [1,Infinity] pair still orders totally.
    emb_nf = F.transform(
        "embedding",
        lambda x: F.coalesce(x.cast("double"), F.lit(float("inf"))),
    )
    null_mask = F.concat_ws(
        ",",
        F.transform("embedding", lambda x: x.isNull().cast("int").cast("string")),
    )
    return winner_per_key(
        df.withColumn("_elsum", key)
        .withColumn("_emb_nf", emb_nf)
        .withColumn("_nullmask", null_mask),
        "vec_id",
        ("_elsum", "_emb_nf", "_nullmask", "label"),
    ).drop("_elsum", "_emb_nf", "_nullmask")


def winner_embedding_sql() -> str:
    """DuckDB mirror of :func:`winner_embedding` (see its docstring for
    the corrupt-vector NULL pinning and the NULL-element-free tiebreak
    rendering)."""
    elsum = (
        "CASE WHEN len(embedding) > 0 "
        "AND len(list_filter(embedding, x -> x IS NULL)) = 0 "
        "THEN list_aggregate(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)), 'sum') END"
    )
    emb_nf = (
        "list_transform(embedding, "
        "x -> coalesce(CAST(x AS DOUBLE), CAST('Infinity' AS DOUBLE)))"
    )
    null_mask = (
        "array_to_string(list_transform(embedding, "
        "x -> CAST(CAST(x IS NULL AS INT) AS VARCHAR)), ',')"
    )
    return (
        "(SELECT * FROM embeddings QUALIFY row_number() OVER "
        f"(PARTITION BY vec_id ORDER BY {elsum} DESC NULLS LAST, "
        f"{emb_nf} DESC NULLS LAST, {null_mask} DESC NULLS LAST, "
        f"label DESC NULLS LAST) = 1)"
    )


# ---------------------------------------------------------------------------
# Dirty-JSON contract (round 10, R10_BADJSON_PLAN)
# ---------------------------------------------------------------------------
# Spark's VARIANT parser (try_parse_json; also the acceptance gate this
# engine uses in front of from_json lanes that must reject ambiguous
# payloads) yields NULL for malformed JSON AND for duplicate-key
# objects.  DuckDB's json_valid accepts dup keys, json_extract takes
# the FIRST occurrence while Jackson's from_json keeps the LAST — so a
# validity-only oracle mirror silently drifts on replayed-key payloads.
# This predicate replicates the variant parser's acceptance exactly:
# valid JSON whose top-level keys are unique.  CASE, not AND: DuckDB
# does not short-circuit AND and json_keys() itself throws on malformed
# input.  The Spark-side mirror is `F.try_parse_json(col).isNotNull()`.

def json_usable_sql(col: str = "props") -> str:
    """DuckDB predicate mirroring Spark try_parse_json acceptance.

    Round 11 (ADVICE r10): DuckDB's json_valid ACCEPTS the non-strict
    NaN/Infinity constants that Spark's variant parser rejects (probed:
    try_parse_json('{"k": NaN}') is NULL, json_valid says true), so the
    predicate also strips every string literal and rejects any bare
    NaN/Infinity token left over — a constant can only live outside
    strings, so the lexical test is exact.

    KNOWN RESIDUAL (review catch, documented): the key-uniqueness check
    is TOP-LEVEL only (json_keys walks one level), while Spark's
    variant parser rejects duplicate keys at ANY depth — a payload like
    ``{"a":{"b":1,"b":2}}`` is accepted here but NULLed by Spark.  The
    data model's props column is flat single-key JSON (FIXTURES.md) and
    no sweep corpus carries nested objects — now ENFORCED by
    tests/test_degenerate_robustness.py::test_props_fixtures_are_flat,
    which fails the moment a fixture ships nested-object props; extend
    this predicate with a recursive walk then, not before."""
    stripped = (
        f"""regexp_replace({col}, '"([^"\\\\]|\\\\.)*"', '""', 'g')"""
    )
    return (
        f"(CASE WHEN coalesce(json_valid({col}), false) "
        f"THEN len(json_keys({col})) = len(list_distinct(json_keys({col}))) "
        f"AND NOT regexp_matches({stripped}, 'NaN|Infinity') "
        f"ELSE false END)"
    )


# ---------------------------------------------------------------------------
# Document-size contract: bounded-prefix signatures (round 10,
# R10_BIGDOC_PLAN.md)
# ---------------------------------------------------------------------------
# Real crawls carry multi-MB outliers (concatenated logs, minified JS,
# OCR dumps).  A per-document kernel that is super-linear in document
# length — shingle sets, per-line explodes, rolling hashes, O(len²)
# edit distance — stalls ONE task while its 999 siblings finish: the
# classic job-tail straggler at 100 TB, invisible in aggregate timings
# (probed: 11 ops > 90 s on a single 520 KB document).  The contract:
# near-dup / fingerprint / boilerplate SIGNATURES are computed on the
# first SIG_PREFIX_CHARS of the text, mirrored verbatim in each paired
# oracle.  A 64 KB prefix is essentially as selective a near-dup
# signature as the full text (the standard production-dedup cap) while
# bounding every per-doc kernel to O(SIG_PREFIX_CHARS) — document
# length becomes a constant multiplier, not a tail-latency lottery.
# Bitwise-neutral on every shipped corpus (all documents are far under
# the cap); parity-exact above it because BOTH texts cap.  Whole-
# document SEMANTICS ops (exact-dup md5, length stats, writers) stay
# uncapped — they are linear and cheap.
SIG_PREFIX_CHARS = 65536


def capped_text():
    """The signature prefix of ``text`` (Spark side)."""
    return F.substring(F.col("text"), 1, SIG_PREFIX_CHARS)


def capped_text_sql() -> str:
    """DuckDB mirror of :func:`capped_text`."""
    return f"substr(text, 1, {SIG_PREFIX_CHARS})"


def json_long_strict_sql() -> str:
    """Mirror of Spark ``from_json('k long')`` VALUE semantics (probed):
    only an INTEGER JSON number parses — fractional (1.5), string
    ("7"), boolean, and beyond-int64 numbers all yield NULL.  DuckDB's
    bare ``TRY_CAST(json_extract(...) AS BIGINT)`` instead COERCES
    (1.5→2 by rounding, "7"→7, true→1), silently counting rows the
    engine rejects.  Callers must wrap in a json_valid/json_usable
    guard — ``json_type`` itself throws on malformed input."""
    return (
        "(CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT') "
        "THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END)"
    )


def json_str_int_sql() -> str:
    """Mirror of Spark ``try_cast(get_json_object(...) AS INT)``
    (probed): the extracted STRING parses only when it spells an
    integer — '1.5' is NULL on Spark but ROUNDS to 2 under DuckDB's
    varchar TRY_CAST, so an explicit digits regex pins the strict
    semantics.  Includes its own json_valid guard (extraction throws on
    malformed input)."""
    ex = "props->>'$.k'"
    return (
        "(CASE WHEN coalesce(json_valid(props), false) THEN "
        f"CASE WHEN regexp_matches(coalesce({ex}, ''), "
        "'^\\s*[+-]?[0-9]+\\s*$') "
        f"THEN TRY_CAST({ex} AS INT) END END)"
    )

"""Scale machinery: bucketed co-located joins, salted skew joins and the
one co-occurrence kernel — the join shapes that keep fact⋈fact joins and
pair generation alive at 100 TB (SCALING.md §B-C), packaged as reusable
utilities with plan-level tests (tests/test_scale.py).

- **Bucketing**: persist both join sides bucketed+sorted on the key;
  subsequent joins read co-located buckets and skip BOTH shuffles
  (verified: no Exchange in the joined plan).  This is what you do for
  the 2-3 giant tables that get joined every day.
- **Salting**: when one key dominates (power-law user ids, null keys),
  explode the hot side's key space by a salt in [0,N) and replicate the
  other side N×; the shuffle spreads the hot key over N reducers.
  Results are identical to the plain join (asserted in tests).
- **Co-occurrence**: pairs of sets that share an element, with the
  shared count (:func:`co_occurrence`), after dropping hub elements
  whose document frequency would make one join bucket quadratic
  (:func:`drop_hot`).  Dedup, containment, LSH banding, ROUGE overlap
  and the graph neighbor ops are all this one self-join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from un_datapipeline_spark.session import ckpt

# Elements held by more than this many sets are hubs (boilerplate grams,
# template fingerprints) and are dropped before the element-equality
# self-join: an element of document frequency df produces up to df²
# candidate pairs in its shuffle bucket, so the cap bounds every bucket
# at MAX_GRAM_DF² pairs regardless of corpus size (an absolute cap, NOT
# a corpus fraction — 1% of 1B docs would still be a 10^14-pair
# bucket).  Hub elements carry no near-dup signal anyway (C4/Gopher drop
# boilerplate grams for quality reasons too).
MAX_GRAM_DF = 100


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Round-13 (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read"): spread a compute-heavy
    projection across the cluster when the SCAN cannot supply the
    parallelism itself.

    A parquet scan task must start at a row-group boundary, so a table
    shipped as one single-row-group file is structurally a ONE-task scan
    — every downstream narrow operator (math expressions, XML/JSON
    parsing, string kernels) then runs on one core while the rest idle.
    This helper inserts a round-robin repartition to the scheduler's
    default parallelism, but ONLY when the scan is actually deficient:
    at real scale a 100 TB table already reads as thousands of row-group
    splits and the helper is a no-op (no exchange added), so query
    shapes stay scale-correct.  Round-robin repartition is
    deterministic-safe (sortBeforeRepartition, SPARK-23207) and row
    values are untouched — hash-verified consumers stay bit-identical
    because the driver's canonicalizer is order-insensitive and every
    downstream expression here is per-row.

    Use it on operators whose cost is per-row compute directly above a
    scan; do NOT use it ahead of aggregations/joins (those already
    re-distribute via their own exchange, and the extra shuffle would
    move the full payload twice — guide §2.3)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist `df` as a bucketed+sorted managed table (saveAsTable is
    required — plain .parquet() writes drop bucket metadata).  Hash-
    partitioned to k·n_buckets first, k keeping every core busy: a task's
    rows all land in bucket ``pmod(h, k·n) mod n = pmod(h, n)``, so it
    writes one file (k per bucket, not input tasks × n)."""
    k = -(-df.sparkSession.sparkContext.defaultParallelism // n_buckets)
    w = (
        df.repartition(k * n_buckets, bucket_col)
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two pre-bucketed tables on their bucket key — with matching
    bucket counts Spark plans a shuffle-free sort-merge join."""
    return spark.table(left_table).join(spark.table(right_table), on)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) left side's key with
    rand-free determinism — salt = pmod(xxhash64(monotonic row id), N) —
    and replicate the right side across all N salts.  Join keys become
    (key, salt), spreading any hot key over N reducer partitions.

    Equivalent to `left.join(right, left_key == right_key, how)` for
    inner/left joins (asserted by tests/test_scale.py); use AQE skew
    handling first, salting when skew is structural.
    """
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    l_salted = left.withColumn("_salt", salt.cast("int"))
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    r_salted = right.withColumn("_salt", F.explode(salts))
    joined = l_salted.join(
        r_salted,
        (l_salted[left_key] == r_salted[right_key])
        & (l_salted["_salt"] == r_salted["_salt"]),
        how,
    )
    return joined.drop("_salt")


def drop_hot(rel: DataFrame, elem_cols: list[str]) -> DataFrame:
    """``rel`` without the elements (``elem_cols``) held by more than
    MAX_GRAM_DF rows — the hub cap ahead of :func:`co_occurrence`.

    The hot-element set is tiny by construction (a vocabulary-bounded
    groupBy with map-side combine finds it; only elements clearing the
    cap survive), so it broadcasts and the filter is a broadcast
    anti-join — the fact-side stream never shuffles on a hot key.  The
    capped stream feeds several branches (set sizes and both join
    sides), so it is materialized once; DISK_ONLY because it is
    data-sized (SCALING.md storage discipline).  Its DuckDB mirror for
    the gram family is dedup_extras.drop_hot_grams_sql."""
    hot = (
        rel.groupBy(*elem_cols)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_GRAM_DF)
        .select(*elem_cols)
    )
    return rel.join(F.broadcast(hot), elem_cols, "left_anti").transform(
        ckpt(storage_level=StorageLevel.DISK_ONLY)
    )


def co_occurrence(
    rel: DataFrame, set_col: str, elem_cols: list[str], pairs: str
) -> DataFrame:
    """(a, b, shared): pairs of sets (``set_col`` values) that hold an
    equal element (``elem_cols``) and meet ``pairs``, with the number of
    element rows they share.

    ``rel`` is self-joined as ``x`` (the a side) and ``y`` (the b side);
    ``pairs`` is a SQL predicate over them, e.g. ``x.doc_id < y.doc_id``.
    The element-equality join only meets rows sharing an element, so it
    shuffles by element and never forms unrelated pairs; a hub element
    of frequency df still costs df² rows, which :func:`drop_hot` bounds.

    Precondition: ``rel`` holds distinct (set, element) rows.  Otherwise
    ``shared`` counts multiplicity — the pair set is still exact."""
    on = " AND ".join(f"x.{c} = y.{c}" for c in elem_cols)
    return (
        rel.alias("x")
        .join(rel.alias("y"), F.expr(f"{on} AND {pairs}"))
        .groupBy(F.col(f"x.{set_col}").alias("a"), F.col(f"y.{set_col}").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )

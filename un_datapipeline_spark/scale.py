"""Scale machinery: bucketed co-located joins and salted skew joins —
the two techniques that keep fact⋈fact joins alive at 100 TB
(SCALING.md §B-C), packaged as reusable utilities with plan-level tests
(tests/test_scale.py).

- **Bucketing**: persist both join sides bucketed+sorted on the key;
  subsequent joins read co-located buckets and skip BOTH shuffles
  (verified: no Exchange in the joined plan).  This is what you do for
  the 2-3 giant tables that get joined every day.
- **Salting**: when one key dominates (power-law user ids, null keys),
  explode the hot side's key space by a salt in [0,N) and replicate the
  other side N×; the shuffle spreads the hot key over N reducers.
  Results are identical to the plain join (asserted in tests).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


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

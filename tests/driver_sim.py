"""Simulate the grading driver end-to-end (see .claude/skills/verify).

Builds a PLAIN SparkSession (no engine confs — mirrors the driver),
imports __spark_entry__, runs t1 smoke + t2 diff for every declared
query at sf0.01, and writes evidence to /tmp/verify_out.txt.

Round-2 change: the t2 comparison now goes through
tests/strict_diff.strict_compare — a pandas-frame, dtype-sensitive
mirror of the driver's canonicalizer.  The round-1 version compared
Python values with ``==`` (where 5 == 5.0) and collected Spark rows
directly (where arrays are lists, not ndarrays), so it called fn_math
green while the driver hash-failed it (int64 ceil vs float64 ceil) and
never reproduced the driver's unhashable-ndarray crashes.  Local red ⇔
driver red is the contract now.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SF = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")
OUT = os.environ.get("VERIFY_OUT", "/tmp/verify_out.txt")


def main() -> int:
    out = open(OUT, "w")
    # Defaults mirror the grading driver exactly (plain session, local[8]).
    # The env overrides exist ONLY for the partition-order stress sweep:
    # running the same strict compare under a different core count /
    # shuffle width / split size reorders every partial-aggregation merge,
    # so any op whose result depends on float accumulation order (the
    # sink_clustered_write bug class, PARITY.md) fails the hash here
    # before the driver can ever see it flake.
    builder = (
        SparkSession.builder.master(
            os.environ.get("DRIVER_SIM_MASTER", "local[8]")
        )
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("DRIVER_SIM_SHUFFLE_PARTITIONS"):
        builder = builder.config(
            "spark.sql.shuffle.partitions",
            os.environ["DRIVER_SIM_SHUFFLE_PARTITIONS"],
        )
    if os.environ.get("DRIVER_SIM_MAX_PARTITION_BYTES"):
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ["DRIVER_SIM_MAX_PARTITION_BYTES"],
        )
    spark = builder.getOrCreate()
    import __spark_entry__ as e
    from un_datapipeline_spark.session import release_scratch

    df = e.entry(spark)
    rows = df.collect()
    out.write(f"SMOKE rows={len(rows)} schema={df.columns}\n")
    ok = len(rows) > 0

    from tests.strict_diff import canon, strict_compare

    q, o = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    # Precondition notice (round-8 review): the engine's ingest contract
    # maps non-finite events.value → NULL, but THIS harness mirrors the
    # grading driver's PLAIN views.  On every shipped corpus (verified:
    # 0 non-finite values) the two agree bitwise; if a future testdata
    # generation ships NaN/Inf, every value-consuming op will mismatch
    # below — this line says why, instead of 38 mysterious reds.
    from un_datapipeline_spark.tables import VALUE_MAGNITUDE_SQL

    n_nonfinite = con.execute(
        "SELECT count(*) FROM events WHERE isnan(value) OR isinf(value) "
        f"OR abs(value) > {VALUE_MAGNITUDE_SQL}"
    ).fetchone()[0]
    if n_nonfinite:
        # Hard error (ADVICE r08): silently running a mirror whose oracle
        # views disagree with the engine's ingest contract would print 38
        # mysterious reds; stop and make the operator decide.  The
        # --nonfinite sweep (tools/sweep_degenerate.py) is the sanctioned
        # path — it reconciles the oracle views with the contract.
        raise SystemExit(
            f"corpus has {n_nonfinite} non-finite or absurd-magnitude "
            "(|value| > 9e15) events.value rows; the engine ingests them "
            "as NULL (tables.normalize_events_value) but this harness "
            "mirrors the grading driver's PLAIN oracle views, so every "
            "value-consuming op would mismatch by design.  Use "
            "tools/sweep_degenerate.py --nonfinite / --magnitude "
            "(contract-aware views) for corrupt corpora."
        )

    import time

    n_match = n_rows_only = n_fail = 0
    n_run = 0
    # VERIFY_LIMIT=50 mirrors the driver's 50-slot window (first N
    # queries() entries only) — used for quick in-window double-run
    # stability checks between full-registry sweeps.
    limit = int(os.environ.get("VERIFY_LIMIT", "0") or 0)
    names = list(q)[:limit] if limit else list(q)
    for name in names:  # registry order — the order the driver walks
        t0 = time.perf_counter()
        try:
            spdf = q[name](spark, SF).toPandas()
            el = time.perf_counter() - t0
            if name in o:
                ocdf = con.execute(o[name]).df()
                problems = strict_compare(spdf, ocdf)
                out.write(
                    f"t2 {name}: rows={len(spdf)}/{len(ocdf)} "
                    f"match={not problems} spark_s={el:.2f}\n"
                )
                for p in problems[:8]:
                    out.write(f"    {p}\n")
                n_match += not problems
                n_fail += bool(problems)
            else:
                # rows-only still goes through the driver's canon so an
                # unhashable array cell fails here, not under the driver.
                canon(spdf)
                out.write(
                    f"t2 {name}: rows-only rows={len(spdf)} spark_s={el:.2f}\n"
                )
                n_rows_only += 1
        except Exception:
            out.write(f"t2 {name}: EXCEPTION\n{traceback.format_exc()}\n")
            n_fail += 1
        release_scratch(spark)  # the op's result is consumed (toPandas)
        if os.environ.get("VERIFY_UNPERSIST"):
            # Marathon-sweep mode (default OFF so the sf0.01 run stays a
            # faithful driver mirror): a full-registry pass leaves ~300
            # ops' localCheckpoint blocks registered in one JVM, and the
            # MEMORY_AND_DISK ones pin the unified pool's protected
            # storage region until ContextCleaner gets around to them —
            # at sf0.1 on a default-memory driver that starved a wedge
            # join of execution memory (UNABLE_TO_ACQUIRE_MEMORY, flaky;
            # the op passes solo).  The grading driver runs only 50 ops
            # per JVM and never accumulates this.  Every op is fully
            # consumed (toPandas) before this point and no DataFrame is
            # reused across ops (load_table caches plans, not data), so
            # dropping every persisted RDD between ops cannot change
            # results — only reclaim memory.
            # py4j maps java.util.Map to a dict-like view
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
            # Unpersist frees RDD blocks, but dead BROADCAST blocks are
            # only released after ContextCleaner sees their weak refs
            # die — i.e. after a JVM GC, and Spark's own periodic GC
            # (spark.cleaner.periodicGC.interval) fires every 30 min.
            # A 351-op marathon builds hundreds of broadcasts in the
            # shared 1 GB local-mode heap first; the r08 sf0.1 sweep
            # OOM'd a graph-op task (heap at 95%) exactly this way.
            # Forcing a GC every 10 ops keeps the cleaner current.
            n_run += 1
            if n_run % 10 == 0:
                spark.sparkContext._jvm.System.gc()
    out.write(
        f"TOTAL declared={len(names)} match={n_match} rows_only={n_rows_only} fail={n_fail}\n"
    )
    out.close()
    spark.stop()
    return 0 if ok and n_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

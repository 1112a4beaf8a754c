"""Scale-machinery proofs: bucketed writes emit one file per bucket and
their joins actually skip the shuffle (plan-level), salted joins return
identical results to plain joins."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from un_datapipeline_spark.scale import bucketed_join, salted_join, write_bucketed
from un_datapipeline_spark.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, tmp_path):
    warehouse = str(tmp_path)
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_orderstatus")
    # a 4-task input writes one file per bucket per write task (k = 1 on
    # 4 cores), not 4 input tasks × 4
    write_bucketed(li.repartition(4), "li_b", "l_orderkey", 4, path=f"{warehouse}/li")
    k = -(-spark.sparkContext.defaultParallelism // 4)
    assert len(list((tmp_path / "li").glob("part-*"))) == k * 4
    write_bucketed(
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "o_b",
        "l_orderkey",
        4,
        path=f"{warehouse}/o",
    )
    # Disable broadcast so the planner takes the bucketed SMJ path (at
    # real scale both sides exceed the broadcast threshold anyway).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "li_b", "o_b", "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        # and it computes the right thing
        expect = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert j.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_write_keeps_parallelism(spark, sf_smoke, tmp_path):
    """Fewer buckets than cores: the write still runs k = ceil(cores / n)
    tasks per bucket, and every file holds the rows of one bucket only —
    the one its name carries."""
    n = max(1, spark.sparkContext.defaultParallelism // 2)
    k = -(-spark.sparkContext.defaultParallelism // n)
    assert k > 1
    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(li.repartition(4), "li_k", "l_orderkey", n, path=str(tmp_path))
    files = sorted(tmp_path.glob("part-*"))
    assert len(files) == k * n
    for f in files:
        named = int(re.search(r"_(\d+)\.c\d+", f.name).group(1))
        ids = spark.read.parquet(str(f)).select(
            F.expr(f"pmod(hash(l_orderkey), {n})").alias("b")
        ).distinct().collect()
        assert [r.b for r in ids] == [named], f.name


def test_salted_join_matches_plain_join(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("q"))
    )
    salted = (
        salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=4)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("q"))
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_salted_left_join_preserves_unmatched(spark, sf_smoke):
    c = load_table(spark, sf_smoke, "customer").select("c_custkey")
    o = load_table(spark, sf_smoke, "orders").select("o_custkey")
    plain = c.join(o, c.c_custkey == o.o_custkey, "left").count()
    salted = salted_join(c, o, "c_custkey", "o_custkey", n_salts=4, how="left").count()
    assert plain == salted


def test_salted_join_spreads_hot_key(spark, tmp_path):
    """Data-driven skew proof (round 11 — the skew corpus finally gives
    the salt path DATA instead of plan assertions): on a feed where ONE
    user owns 50% of events, the salted join must (a) return exactly
    the plain join's rows and (b) actually SPREAD the hot key — the
    largest (key, salt) reducer group must shrink toward hot/n_salts,
    which is the entire point of salting at 100 TB (one reducer no
    longer owns half the table)."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "sweep_degenerate",
        Path(__file__).parent.parent / "tools" / "sweep_degenerate.py",
    )
    sw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sw)
    d = tmp_path / "skewsf"
    d.mkdir()
    sw.build_skew_dataset(str(d))

    ev = load_table(spark, str(d), "events").select("event_id", "user_id", "value")
    cust = load_table(spark, str(d), "customer").select("c_custkey", "c_mktsegment")

    n_salts = 8
    plain = ev.join(cust, ev.user_id == cust.c_custkey)
    salted = salted_join(ev, cust, "user_id", "c_custkey", n_salts=n_salts)
    a = sorted(map(tuple, plain.select("event_id", "c_mktsegment").collect()))
    b = sorted(map(tuple, salted.select("event_id", "c_mktsegment").collect()))
    assert a == b

    # the hot key's rows really do split across salts: re-derive the
    # salted left side and measure the largest (user_id, salt) group
    hot_uid, hot_n = (
        ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    )
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    groups = (
        ev.withColumn("_salt", salt.cast("int"))
        .filter(F.col("user_id") == hot_uid)
        .groupBy("_salt")
        .count()
        .collect()
    )
    sizes = {r["_salt"]: r["count"] for r in groups}
    assert len(sizes) == n_salts, f"hot key landed on only {len(sizes)} salts"
    # xxhash64 over row ids is near-uniform; 2x the fair share is a
    # loose bound that still fails decisively if salting ever breaks
    assert max(sizes.values()) <= 2 * hot_n / n_salts, sizes


def test_parallelize_scan_spreads_deficient_scans_only(spark):
    """parallelize_scan (round 13): a single-partition relation is spread
    to the scheduler's default parallelism; an already-wide relation is
    returned UNCHANGED (the no-op branch that keeps query shapes
    scale-correct); row multiset is preserved either way."""
    from un_datapipeline_spark.scale import parallelize_scan

    target = spark.sparkContext.defaultParallelism

    # single-row-group parquet scan = 1 partition (the deficient case)
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    assert li.rdd.getNumPartitions() == 1
    spread = parallelize_scan(li)
    assert spread.rdd.getNumPartitions() == target
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, spread.collect()))
    assert a == b

    # already at/above target = identity (no exchange added)
    wide = li.repartition(target)
    assert parallelize_scan(wide) is wide

"""Scale-machinery proofs: bucketed writes emit one file per bucket and
their joins actually skip the shuffle (plan-level), salted joins return
identical results to plain joins, and the co-occurrence kernel and its
hub cap agree with a pure-Python count."""

from __future__ import annotations

import re
from collections import Counter

import pyspark.sql.functions as F
import pytest

from un_datapipeline_spark import scale
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
    from tests.corpora import skew

    d = tmp_path / "skewsf"
    d.mkdir()
    skew(str(d))

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


# (rows, schema, elem_cols, SQL pair predicate, the same in Python) —
# set column ``s`` throughout
_CO_CASES = {
    "empty": ([], "s long, e string", ["e"], "x.s < y.s", lambda a, b: a < b),
    # p and r are each held by one set only and form no pair
    "single-holder": (
        [(1, "p"), (1, "q"), (2, "q"), (2, "t"), (3, "t"), (3, "q"), (3, "r")],
        "s long, e string", ["e"], "x.s < y.s", lambda a, b: a < b,
    ),
    # an LSH (band, bucket) element: equal buckets in different bands
    # are different elements
    "two-column": (
        [(1, 0, 7), (2, 0, 7), (3, 1, 7), (1, 1, 7), (2, 1, 9), (3, 0, 9)],
        "s long, band int, bucket long", ["band", "bucket"], "x.s < y.s",
        lambda a, b: a < b,
    ),
    # the ROUGE adjacency: each even set against its successor only
    "adjacency": (
        [(s, w) for s in range(6) for w in ("a", "b", "c")[: s % 3 + 1]],
        "s long, w string", ["w"], "x.s % 2 = 0 AND y.s = x.s + 1",
        lambda a, b: a % 2 == 0 and b == a + 1,
    ),
}


def _py_co_occurrence(rows, n_elem, pred) -> Counter:
    return Counter(
        (x[0], y[0])
        for x in rows
        for y in rows
        if x[1 : 1 + n_elem] == y[1 : 1 + n_elem] and pred(x[0], y[0])
    )


@pytest.mark.parametrize("case", sorted(_CO_CASES))
def test_co_occurrence_matches_python_count(spark, case):
    rows, schema, elem_cols, pairs, pred = _CO_CASES[case]
    rel = spark.createDataFrame(rows, schema)
    got = {
        (r.a, r.b): r.shared
        for r in scale.co_occurrence(rel, "s", elem_cols, pairs).collect()
    }
    assert got == _py_co_occurrence(rows, len(elem_cols), pred)


# element columns -> (schema, a hot, an edge and a cold element)
_HUB_CASES = {
    "one-column": (["e"], "s long, e string", [("hot",), ("edge",), ("cold",)]),
    "two-column": (
        ["band", "bucket"], "s long, band int, bucket long", [(0, 1), (0, 2), (1, 1)]
    ),
}


@pytest.mark.parametrize("case", sorted(_HUB_CASES))
def test_drop_hot_drops_elements_above_the_cap(spark, case):
    """An element held by MAX_GRAM_DF + 1 sets is dropped from every set
    that holds it; one held by exactly MAX_GRAM_DF sets stays, and so
    does every pair it makes."""
    elem_cols, schema, (hot, edge, cold) = _HUB_CASES[case]
    cap = scale.MAX_GRAM_DF
    rows = (
        [(s, *hot) for s in range(cap + 1)]
        + [(s, *edge) for s in range(cap)]
        + [(s, *cold) for s in (0, 1)]
    )
    kept = scale.drop_hot(spark.createDataFrame(rows, schema), elem_cols)
    want = sorted(r for r in rows if r[1:] != hot)
    assert sorted(tuple(r[c] for c in ["s", *elem_cols]) for r in kept.collect()) == want
    got = {
        (r.a, r.b): r.shared
        for r in scale.co_occurrence(kept, "s", elem_cols, "x.s < y.s").collect()
    }
    assert got == _py_co_occurrence(want, len(elem_cols), lambda a, b: a < b)

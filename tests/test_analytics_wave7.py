"""Invariants for the seventh-wave analytics ops (local clustering,
Hampel despiking, M4 downsampling) — structural properties the hash
oracle can't express."""

from __future__ import annotations

from un_datapipeline_spark.registry import all_operators
from un_datapipeline_spark.tables import load_table

OPS = all_operators()


def test_local_cc_is_a_coefficient(spark, sf_smoke):
    """cc ∈ [0, 1] (ppm ≤ 10⁶) and per-node triangles can't exceed the
    d-choose-2 wedge bound; output ordered by degree."""
    rows = OPS["graph_local_clustering"].fn(spark, sf_smoke).collect()
    assert len(rows) == 20
    degs = [r["d"] for r in rows]
    assert degs == sorted(degs, reverse=True)
    for r in rows:
        assert 0 <= r["local_cc_ppm"] <= 1_000_000
        assert 0 <= r["n_tri"] <= r["d"] * (r["d"] - 1) // 2


def test_local_cc_credit_sums_to_three_per_triangle(spark, sf_smoke):
    """Every triangle credits exactly its 3 corners: the global triangle
    count (graph_triangle_count, the independent formulation) times 3
    bounds the total credit of ANY node subset."""
    tri = OPS["graph_triangle_count"].fn(spark, sf_smoke).collect()[0]
    rows = OPS["graph_local_clustering"].fn(spark, sf_smoke).collect()
    assert sum(r["n_tri"] for r in rows) <= 3 * tri["n_triangles"]
    assert tri["n_triangles"] > 0


def test_hampel_flags_are_bounded_and_consistent(spark, sf_smoke):
    rows = OPS["ts_hampel_outliers"].fn(spark, sf_smoke).collect()
    assert rows, "every event_type must report"
    for r in rows:
        assert 0 <= r["n_outliers"] <= r["n_rows"]
        assert r["outlier_ppm"] == r["n_outliers"] * 1_000_000 // r["n_rows"]


def test_hampel_masking_resistance_vs_zscore(spark, sf_smoke):
    """The reason Hampel exists: the median/MAD threshold cannot be
    dragged by the outliers themselves, so on heavy-tailed data it
    flags a non-trivial share that plain mean/σ despiking understates.
    Pin only the weak direction: it flags SOMETHING and not everything."""
    rows = OPS["ts_hampel_outliers"].fn(spark, sf_smoke).collect()
    total = sum(r["n_rows"] for r in rows)
    out = sum(r["n_outliers"] for r in rows)
    assert 0 < out < total


def test_m4_envelope(spark, sf_smoke):
    """min ≤ first/last ≤ max per bucket, and the bucket count times 4
    is the downsampled point budget (the M4 guarantee)."""
    rows = OPS["ts_m4_downsample"].fn(spark, sf_smoke).collect()
    import pyspark.sql.functions as F

    n_events = load_table(spark, sf_smoke, "events").count()
    assert sum(r["n"] for r in rows) == n_events
    for r in rows:
        assert r["v_min"] <= r["v_first"] <= r["v_max"]
        assert r["v_min"] <= r["v_last"] <= r["v_max"]


def test_kcore_matches_pure_python_rederivation(spark, sf_smoke):
    """The k-core fixed point is unique — re-derive it from the same
    edge definition with a driver-side peel and assert SET EQUALITY
    plus the defining invariant (every member keeps ≥ k in-core
    neighbors).  This is the rows-only op's full-strength oracle."""
    import collections

    import pyspark.sql.functions as F

    li = (
        load_table(spark, sf_smoke, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, (a.k == b.k) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter("w >= 2")
        .collect()
    )
    adj = collections.defaultdict(set)
    for r in pairs:
        adj[r["u"]].add(r["v"])
        adj[r["v"]].add(r["u"])

    rows = OPS["graph_kcore"].fn(spark, sf_smoke).collect()
    assert rows
    k = rows[0]["k"]

    core = {x: set(s) for x, s in adj.items()}
    changed = True
    while changed:
        changed = False
        for node in list(core):
            if len(core[node]) < k:
                for nb in core[node]:
                    core[nb].discard(node)
                del core[node]
                changed = True
    assert {r["node"] for r in rows} == set(core)
    for r in rows:
        assert r["core_deg"] == len(core[r["node"]]) and r["core_deg"] >= k


def test_kcore_result_is_frozen(spark, sf_smoke):
    """graph_kcore freezes its result inside the iteration scope: the
    returned plan is a bare checkpoint scan, so the final degree
    aggregate and sort already ran at the pinned width."""
    plan = OPS["graph_kcore"].fn(spark, sf_smoke)._jdf.queryExecution().analyzed()
    assert plan.nodeName() in ("LogicalRDD", "ExistingRDD"), plan.toString()
    assert plan.children().isEmpty()


def test_skew_report_shares_are_consistent(spark, sf_smoke):
    rows = OPS["etl_skew_report"].fn(spark, sf_smoke).collect()
    assert len(rows) == 10
    top = rows[0]
    # hottest key first, skew factor ≥ 10^6 (max ≥ avg), shares consistent
    assert all(rows[i]["key_rows"] >= rows[i + 1]["key_rows"] for i in range(9))
    assert top["skew_factor_ppm"] >= 1_000_000
    assert top["share_ppm"] == top["key_rows"] * 1_000_000 // top["n_rows"]


def test_match_recognize_matches_pure_python_rederivation(spark, sf_smoke):
    """First-principles re-derivation of the D+ U+ row-pattern matches:
    walk each user's (ts, event_id)-ordered value series in plain Python,
    cut maximal direction runs, pair adjacent D→U runs, and compare the
    full measure tuples SET-EQUAL against the operator (the MATCH_RECOGNIZE
    semantics — maximal match, skip past last row — re-implemented without
    windows, islands, or SQL)."""
    import math

    from un_datapipeline_spark.registry import all_operators
    from un_datapipeline_spark.tables import load_table

    rows = (
        load_table(spark, sf_smoke, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    expected = set()
    for uid, evs in by_user.items():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        runs = []  # (dir, [rows]) maximal constant-direction runs
        for prev, cur in zip(evs, evs[1:]):
            d = "D" if cur.value < prev.value else ("U" if cur.value > prev.value else "F")
            if runs and runs[-1][0] == d:
                runs[-1][1].append(cur)
            else:
                runs.append((d, [cur]))
        seq = 0
        for (d1, r1), (d2, r2) in zip(runs, runs[1:]):
            if d1 == "D" and d2 == "U":
                seq += 1
                cents = lambda v: int(math.floor(v * 100 + 0.5))
                expected.add(
                    (
                        uid,
                        seq,
                        r1[0].event_id,
                        r1[-1].event_id,
                        r2[-1].event_id,
                        len(r1),
                        len(r2),
                        cents(r1[0].value) - cents(r1[-1].value),
                        cents(r2[-1].value) - cents(r1[-1].value),
                    )
                )
    got = {
        tuple(r)
        for r in all_operators()["win_match_recognize"]
        .fn(spark, sf_smoke)
        .collect()
    }
    assert got == expected
    assert len(got) > 0
    # drawdown/recovery measured in ROUNDED cents: strictly positive as
    # doubles, but a decline smaller than the cent resolution rounds to 0
    assert all(t[7] >= 0 and t[8] >= 0 for t in got)


def test_match_recognize_synthetic_edges(spark, tmp_path):
    """Hand-built series isolating the DEFINE/PATTERN edge semantics:
    single-event users, monotone runs, flats INSIDE a would-be match
    (D+ F U+ must NOT match — neither D nor U covers the flat row),
    W shapes (two non-overlapping matches), and ts ties broken by
    event_id."""
    import datetime as dt

    from un_datapipeline_spark.registry import all_operators

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, offset_s, value):
        return (eid, t0 + dt.timedelta(seconds=offset_s), uid, "view", value, "{}")

    rows = [
        # u1: single event -> no runs at all
        ev(1, 1, 0, 5.0),
        # u2: strictly decreasing -> D run only, no U followup
        ev(10, 2, 0, 5.0), ev(11, 2, 1, 4.0), ev(12, 2, 2, 3.0),
        # u3: strictly increasing -> U run only, no preceding D
        ev(20, 3, 0, 1.0), ev(21, 3, 1, 2.0), ev(22, 3, 2, 3.0),
        # u4: D then FLAT then U -> flat breaks adjacency, no match
        ev(30, 4, 0, 5.0), ev(31, 4, 1, 4.0), ev(32, 4, 2, 4.0), ev(33, 4, 3, 6.0),
        # u5: W shape -> two matches (5>3<4, 4>2<6), skip past last row
        ev(40, 5, 0, 5.0), ev(41, 5, 1, 3.0), ev(42, 5, 2, 4.0),
        ev(43, 5, 3, 2.0), ev(44, 5, 4, 6.0),
        # u6: V with a ts TIE inside the decline — event_id orders 6.0
        # then 5.0 at the same ts, so the decline is 7->6->5 then rise to 8
        ev(50, 6, 0, 7.0), ev(51, 6, 1, 6.0), ev(52, 6, 1, 5.0), ev(53, 6, 2, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        tuple(r)
        for r in all_operators()["win_match_recognize"].fn(spark, sf).collect()
    }
    expected = {
        # (user, seq, start_eid, bottom_eid, end_eid, n_down, n_up, drop, rise)
        # NB MATCH_RECOGNIZE semantics: the pre-decline PEAK row matches
        # neither D nor U, so it is NOT part of the match — drop_cents is
        # measured from the FIRST BELOW-PEAK row (a 1-row decline has
        # drop 0; u6's 7→6→5 run has drop 6−5=100, not 7−5=200).
        (5, 1, 41, 41, 42, 1, 1, 0, 100),
        (5, 2, 43, 43, 44, 1, 1, 0, 400),
        (6, 1, 51, 52, 53, 2, 1, 100, 300),
    }
    assert got == expected

"""Tests for the benchmark's own code: reporting rules, span arithmetic
and corpus determinism.  Run with ``python -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import corpus, stats
from perfbench.trace import Span, Tracer, covered, merge, parse_metric, self_times
from un_datapipeline_spark.tables import TABLE_NAMES

# -- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(range(100), 90) == (89, 10)
    assert stats.percentile(range(99), 90) is None  # only 9 beyond p90


def test_tail_picks_highest_reportable_percentile():
    assert stats.tail(range(1000))["p"] == 99
    t = stats.tail(range(200))
    assert (t["p"], t["beyond"], t["n"]) == (90, 20, 200)
    assert stats.tail(range(40))["p"] == 75
    assert stats.tail(range(39)) is None  # 9 beyond p75


def test_geomean():
    assert stats.geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    assert stats.geomean([]) is None


# -- spans and self time -----------------------------------------------------


def test_merge_and_covered():
    assert merge([(3, 5), (0, 1), (4, 6), (6, 7), (8, 8)]) == [(0, 1), (3, 7)]
    assert covered([(1, 3), (2, 5), (9, 12)], 0, 10) == 5


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span(1, "call", 0.0, 10.0),
        Span(2, "registry.build", 1.0, 4.0, parent=1),
        Span(3, "result.collect", 4.0, 9.0, parent=1),
        # overlapping children of the collect span count once
        Span(4, "spark.exec", 5.0, 7.0, parent=3),
        Span(5, "spark.exec", 6.0, 8.0, parent=3),
        Span(6, "spark.exec", 2.0, 3.0, parent=2),
    ]
    st = self_times(spans)
    assert st["call"] == pytest.approx(2.0)
    assert st["registry"] == pytest.approx(2.0)
    assert st["result"] == pytest.approx(2.0)
    assert st["spark"] == pytest.approx(5.0)


def test_tracer_nests_and_shares_call_id():
    tr = Tracer(True)
    with tr.span("call", call="c1") as root:
        with tr.span("registry.build") as child:
            pass
    assert child.parent == root.id and child.call == "c1"
    assert root.start <= child.start <= child.end <= root.end
    off = Tracer(False)
    with off.span("call", call="c1") as s:
        assert s is None
    assert off.spans == []


def test_parse_metric_renderings():
    assert parse_metric("1,234") == 1234
    assert parse_metric("135.2 KiB") == pytest.approx(135.2 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") == 2 << 20


# -- corpus generator ----------------------------------------------------------


@pytest.fixture
def source(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    for i, t in enumerate(TABLE_NAMES):
        n = 50 + i
        pq.write_table(pa.table({"k": list(range(n)), "v": [f"{t}{j}" for j in range(n)]}),
                       d / f"{t}.parquet")
    return d


def _digest(d) -> dict:
    return {t: hashlib.sha256((d / f"{t}.parquet").read_bytes()).hexdigest() for t in TABLE_NAMES}


@pytest.mark.parametrize("layout", corpus.LAYOUTS)
def test_same_seed_same_bytes(source, tmp_path, layout):
    corpus.generate(str(source), str(tmp_path / "a"), 7, layout)
    corpus.generate(str(source), str(tmp_path / "b"), 7, layout)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_other_seed_permutes_same_rows(source, tmp_path):
    corpus.generate(str(source), str(tmp_path / "a"), 1, "shipped")
    corpus.generate(str(source), str(tmp_path / "b"), 2, "shipped")
    for t in TABLE_NAMES:
        orig = pq.read_table(source / f"{t}.parquet").column("k").to_pylist()
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet").column("k").to_pylist()
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet").column("k").to_pylist()
        assert sorted(a) == sorted(b) == orig
        assert a != b


def test_layouts_row_groups(source, tmp_path):
    corpus.generate(str(source), str(tmp_path / "s"), 1, "shipped")
    corpus.generate(str(source), str(tmp_path / "w"), 1, "wide")
    for t in TABLE_NAMES:
        assert pq.ParquetFile(tmp_path / "s" / f"{t}.parquet").num_row_groups == 1
        assert pq.ParquetFile(tmp_path / "w" / f"{t}.parquet").num_row_groups > 1


# -- bench output comparison -------------------------------------------------


def test_compare_bench_rules():
    from perfbench.run import compare_bench

    # float32 kernel vs double oracle: equal within the relative tolerance
    assert compare_bench("q", [(1, 0.406471762)], [(1, 0.406471819)], None) == []
    assert compare_bench("q", [(1, 0.5)], [(1, 0.6)], None)
    # ORDER BY ties may permute rows
    assert compare_bench("q", [(2, "b"), (1, "a")], [(1, "a"), (2, "b")], None) == []
    assert compare_bench("q", [(1, "a")], [(1, "a"), (2, "b")], None)
    # running sums are tie-order dependent: only the key sequence counts
    assert compare_bench("running_sum_window", [(1, 1, 5.0)], [(1, 1, 7.0)], None) == []
    assert compare_bench("running_sum_window", [(1, 2, 5.0), (1, 1, 5.0)],
                         [(1, 1, 5.0), (1, 2, 5.0)], None)

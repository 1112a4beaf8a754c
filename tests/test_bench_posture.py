"""bench.py's posture probe sizes the whole input tree and fails open."""

from __future__ import annotations

import os

import pytest

import bench


@pytest.fixture
def no_forced_posture(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_POSTURE", raising=False)


def test_nested_input_over_threshold_is_cluster(tmp_path, no_forced_posture):
    leaf = tmp_path / "lineitem" / "l_shipyear=1995"
    leaf.mkdir(parents=True)
    with open(leaf / "part-0.parquet", "wb") as f:  # sparse: no disk used
        f.truncate(bench._LOCAL_POSTURE_MAX_BYTES)
    (tmp_path / "region.parquet").write_bytes(b"x" * 10)
    assert bench._dir_bytes(str(tmp_path)) == bench._LOCAL_POSTURE_MAX_BYTES + 10
    assert not bench._use_local_posture(str(tmp_path))


def test_unreadable_input_fails_open_to_cluster(tmp_path, monkeypatch, no_forced_posture):
    (tmp_path / "sub").mkdir()
    real_scandir = os.scandir

    def scandir(path="."):
        if os.fspath(path).endswith("sub"):
            raise PermissionError(13, "Permission denied", os.fspath(path))
        return real_scandir(path)

    monkeypatch.setattr(os, "scandir", scandir)
    assert bench._dir_bytes(str(tmp_path)) == float("inf")
    assert not bench._use_local_posture(str(tmp_path))


def test_benchmark_corpus_keeps_local_posture(tmp_path, no_forced_posture):
    """The seeded sf0.1 corpus perfbench times (~17 MB of flat files)."""
    from perfbench import corpus

    corpus.generate(bench.SF_DIR, str(tmp_path), seed=1, layout="shipped")
    assert 0 < bench._dir_bytes(str(tmp_path)) < bench._LOCAL_POSTURE_MAX_BYTES
    assert bench._use_local_posture(str(tmp_path))


def test_repartition_hint_follows_session_width(spark, sf_smoke, monkeypatch):
    """With the env knob unset (cluster posture), events_json_extract's
    REPARTITION hint takes the session's width and leaves the env alone."""
    from un_datapipeline_spark.session import conf_scope

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "17"}):
        df = bench.events_json_extract(spark, sf_smoke)
        plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "RoundRobinPartitioning(17)" in plan, plan
    assert "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ

"""Unit tests for session.ensure_runtime_confs' cannot-modify guard.

ADVICE r07 (session.py): the guard must recognize the structured error
class (getErrorClass / getCondition) FIRST — a reworded or localized
engine message must not crash table loaders — with the message-substring
check kept as the fallback for wrappers that expose no error class
(Py4J static-conf errors, older Connect builds).

No SparkSession needed: we drive ensure_runtime_confs with a fake conf
object that raises controlled exceptions.
"""

from __future__ import annotations

import pytest

from un_datapipeline_spark import session as sess_mod


class _FakeConf:
    def __init__(self, exc_factory):
        self._exc_factory = exc_factory
        self.set_calls = []

    def set(self, k, v):
        self.set_calls.append((k, v))
        exc = self._exc_factory(k)
        if exc is not None:
            raise exc


class _FakeSpark:
    def __init__(self, exc_factory):
        self.conf = _FakeConf(exc_factory)


class _ErrWithClass(Exception):
    """Mimics AnalysisException: structured class, arbitrary message."""

    def __init__(self, error_class, msg):
        super().__init__(msg)
        self._error_class = error_class

    def getErrorClass(self):
        return self._error_class


class _ErrWithCondition(Exception):
    """Mimics Spark 4 PySparkException: getCondition, no getErrorClass."""

    def __init__(self, condition, msg):
        super().__init__(msg)
        self._condition = condition

    def getCondition(self):
        return self._condition


def test_error_class_match_survives_reworded_message():
    # Localized/reworded message that the substring check would MISS —
    # the structured class alone must swallow it.
    spark = _FakeSpark(
        lambda k: _ErrWithClass("CANNOT_MODIFY_CONFIG", "la config est figée")
    )
    out = sess_mod.ensure_runtime_confs(spark)
    assert out is spark
    assert len(spark.conf.set_calls) == len(sess_mod.RUNTIME_CONFS)


def test_get_condition_match_survives_reworded_message():
    spark = _FakeSpark(
        lambda k: _ErrWithCondition("CANNOT_MODIFY_CONFIG", "configuración fija")
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_substring_fallback_still_works_without_error_class():
    # Py4J-style wrapper: plain Exception, class only in the message.
    spark = _FakeSpark(
        lambda k: Exception(
            "org.apache.spark.SparkException: [CANNOT_MODIFY_CONFIG] "
            f"Cannot modify the value of a Spark config: {k}."
        )
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_unrelated_error_class_still_raises():
    spark = _FakeSpark(lambda k: _ErrWithClass("INTERNAL_ERROR", "boom"))
    with pytest.raises(_ErrWithClass):
        sess_mod.ensure_runtime_confs(spark)


def test_unrelated_plain_exception_still_raises():
    spark = _FakeSpark(lambda k: RuntimeError("connection reset"))
    with pytest.raises(RuntimeError):
        sess_mod.ensure_runtime_confs(spark)


def test_broken_error_class_accessor_falls_back_to_message():
    class _BadAccessor(Exception):
        def getErrorClass(self):
            raise ValueError("accessor exploded")

    spark = _FakeSpark(
        lambda k: _BadAccessor("[CANNOT_MODIFY_CONFIG] Cannot modify the value")
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_no_error_sets_every_conf():
    spark = _FakeSpark(lambda k: None)
    sess_mod.ensure_runtime_confs(spark)
    assert dict(spark.conf.set_calls) == sess_mod.RUNTIME_CONFS


def test_graft_checkpoint_durability_gate(spark, tmp_path, monkeypatch):
    """Round-13 (VERDICT r12 items 3/7): graft_checkpoint/ckpt default to
    localCheckpoint (no behavior change locally, nothing written to any
    checkpoint dir) and switch to a RELIABLE Dataset.checkpoint against
    SPARK_GRAFT_CHECKPOINT_DIR when it is set — same rows either way."""
    import os

    from un_datapipeline_spark.session import ckpt

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = df.transform(ckpt())
    assert sorted(map(tuple, local.collect())) == [(i, 2 * i) for i in range(100)]

    target = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(target))
    durable = df.transform(ckpt())
    assert sorted(map(tuple, durable.collect())) == [(i, 2 * i) for i in range(100)]
    written = [p for p in target.rglob("*") if p.is_file()]
    assert written, "reliable checkpoint dir must contain materialized blocks"


_WIDTH = "spark.sql.shuffle.partitions"


def test_iteration_scope_pins_and_restores_width(spark, monkeypatch):
    """iteration_scope pins the shuffle width to SPARK_GRAFT_ITER_PARTITIONS
    for its body and restores the caller's width on exit — also when the
    body raises."""
    from un_datapipeline_spark.session import iteration_scope

    monkeypatch.setenv("SPARK_GRAFT_ITER_PARTITIONS", "3")
    before = spark.conf.get(_WIDTH)
    assert before != "3"
    with iteration_scope(spark):
        assert spark.conf.get(_WIDTH) == "3"
    assert spark.conf.get(_WIDTH) == before

    with pytest.raises(RuntimeError, match="loop body failed"):
        with iteration_scope(spark):
            assert spark.conf.get(_WIDTH) == "3"
            raise RuntimeError("loop body failed")
    assert spark.conf.get(_WIDTH) == before


def test_iteration_scope_static_and_freeze(spark):
    """A .static() relation is cached inside the scope and released on
    exit; a .freeze()d result keeps its rows after the scope (and the
    static relation it was computed from) is gone."""
    from pyspark.storagelevel import StorageLevel

    from un_datapipeline_spark.session import iteration_scope

    with iteration_scope(spark) as it:
        static = it.static(spark.range(50).selectExpr("id", "id % 5 AS g"))
        assert static.storageLevel != StorageLevel.NONE
        frozen = it.freeze(static.groupBy("g").count())
    assert static.storageLevel == StorageLevel.NONE
    assert sorted(map(tuple, frozen.collect())) == [(g, 10) for g in range(5)]


def test_connected_components_uses_checkpoint_dir(spark, sf_smoke, tmp_path, monkeypatch):
    """Every connected_components materialization goes through the
    durability gate: with SPARK_GRAFT_CHECKPOINT_DIR set, the run writes
    reliable checkpoint files into that dir.  The dir is also set on the
    context, because graft_checkpoint keeps a checkpoint dir an earlier
    test already set there."""
    from un_datapipeline_spark.operators.advanced import _dup_edges, connected_components
    from un_datapipeline_spark.tables import load_table

    target = tmp_path / "cc_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(target))
    spark.sparkContext.setCheckpointDir(str(target))
    labels = connected_components(_dup_edges(load_table(spark, sf_smoke, "documents")))
    assert labels.count() > 0
    written = [p for p in target.rglob("*") if p.is_file()]
    assert written, "connected_components bypassed the checkpoint dir"

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

import contextlib
import json
import os
import subprocess
import sys
from pathlib import Path

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
    reliable checkpoint files into that dir — even when an earlier test
    left another checkpoint dir on the context."""
    from un_datapipeline_spark.operators.advanced import _dup_edges, connected_components
    from un_datapipeline_spark.tables import load_table

    target = tmp_path / "cc_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(target))
    labels = connected_components(_dup_edges(load_table(spark, sf_smoke, "documents")))
    assert labels.count() > 0
    written = [p for p in target.rglob("*") if p.is_file()]
    assert written, "connected_components bypassed the checkpoint dir"


def test_graft_checkpoint_replaces_mismatched_context_dir(spark, tmp_path, monkeypatch):
    """A checkpoint dir already set on the context (dir A) must not
    swallow the configured SPARK_GRAFT_CHECKPOINT_DIR (dir B): the
    materialization lands in B, and A gets nothing."""
    from un_datapipeline_spark.session import graft_checkpoint

    dir_a, dir_b = tmp_path / "ckpt_a", tmp_path / "ckpt_b"
    spark.sparkContext.setCheckpointDir(str(dir_a))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(dir_b))
    out = graft_checkpoint(spark.range(10))
    assert out.count() == 10
    assert [p for p in dir_b.rglob("*") if p.is_file()], "nothing written to the env dir"
    assert not [p for p in dir_a.rglob("*") if p.is_file()]


_SET_KEY = "spark.sql.files.openCostInBytes"
_UNSET_KEY = "spark.sql.sources.partitionOverwriteMode"


@pytest.mark.parametrize("raises", [False, True], ids=["normal_exit", "raise"])
def test_conf_scope_restores_set_and_unset_keys(spark, raises):
    """conf_scope restores a key that was set to its old value and
    unsets a key that was unset — on a normal exit and when the body
    raises."""
    from un_datapipeline_spark.session import conf_scope

    spark.conf.set(_SET_KEY, "12345")
    spark.conf.unset(_UNSET_KEY)
    try:
        with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
            with conf_scope(spark, {_SET_KEY: "999", _UNSET_KEY: "dynamic"}):
                assert spark.conf.get(_SET_KEY) == "999"
                assert spark.conf.get(_UNSET_KEY) == "dynamic"
                if raises:
                    raise RuntimeError("body failed")
        assert spark.conf.get(_SET_KEY) == "12345"
        assert spark.conf.get(_UNSET_KEY, None) is None
    finally:
        spark.conf.unset(_SET_KEY)


def test_reliable_checkpoint_writes_whatever_the_storage_level(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_CHECKPOINT_DIR set, a storage level asked for
    (DISK_ONLY here) does not apply: the reliable checkpoint writes its
    data under the env dir and returns the same rows."""
    from pyspark.storagelevel import StorageLevel

    from un_datapipeline_spark.session import graft_checkpoint

    target = tmp_path / "disk_only_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(target))
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = graft_checkpoint(df, storage_level=StorageLevel.DISK_ONLY)
    assert sorted(map(tuple, out.collect())) == [(i, 2 * i) for i in range(100)]
    assert [p for p in target.rglob("*") if p.is_file()], "nothing written to the env dir"


_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_factory_sizes_the_codegen_cache(spark):
    """The codegen cache size is static: only a session built with it
    carries it, so the factory must set it at build."""
    assert spark.sparkContext.getConf().get(_CODEGEN_CACHE) == sess_mod.FACTORY_CONFS[_CODEGEN_CACHE]


def test_repeated_bench_pass_compiles_no_class(spark, sf_smoke, monkeypatch):
    """A second pass of bench.py's 12 queries finds every generated class
    in the cache.  One pass generates ~150 classes here, more than
    Spark's default cache of 100, and an LRU cache smaller than a cyclic
    working set never hits: with 100, the second pass recompiled 142."""
    import bench
    from un_datapipeline_spark.plans import codegen_compiles

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)  # bench pins it

    def compiles_in_one_pass() -> int:
        before = codegen_compiles(spark)
        for fn in bench.QUERIES.values():
            fn(spark, sf_smoke).collect()
        return codegen_compiles(spark) - before

    first = compiles_in_one_pass()
    assert compiles_in_one_pass() == 0, f"first pass compiled {first}"


def test_udf_task_setup_rereads_no_archive(spark):
    """Every UDF task's setup calls ``importlib.invalidate_caches()``;
    under the factory's worker daemon that re-reads no zip archive whose
    (mtime, size) is unchanged.  Spark's own daemon re-reads pyspark.zip
    once per importer and the spark-core jar on every task (before
    CPython 3.12)."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "reads": [len(reads)]})

    r = spark.range(1, numPartitions=1).mapInPandas(probe, "zips long, reads long").first()
    if r.zips == 0:
        pytest.skip("no zip archive on the Python worker path")
    assert r.reads == 0, f"{r.reads} archive re-reads across {r.zips} zip importers"


_ROOT = Path(__file__).resolve().parents[1]

_SESSION_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from un_datapipeline_spark.session import get_spark

spark = get_spark()
print(json.dumps([spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions")]))
spark.stop()
"""


def _run_child(code: str, *args: str, cwd=None, **env_set) -> str:
    """Run ``code`` with the repo root as its argument in a fresh Python
    with no PYTHONPATH, launcher args or SPARK_GRAFT_CPUS beyond
    ``env_set``; return its last stdout line."""
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_CPUS", "PYTHONPATH")}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(SPARK_GRAFT_DRIVER_MEM="512m", **env_set)
    done = subprocess.run(
        [sys.executable, "-c", code, str(_ROOT), *args],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return done.stdout.strip().splitlines()[-1]


def test_launcher_master_and_width_win():
    """The launcher's master and shuffle width reach the session; the
    factory pins ``local[N]`` only from SPARK_GRAFT_CPUS and sets the
    test-scale width only where the launcher set none."""
    launched = _run_child(
        _SESSION_CHILD,
        PYSPARK_SUBMIT_ARGS="--master local[2] --conf spark.sql.shuffle.partitions=200 pyspark-shell",
    )
    assert json.loads(launched) == ["local[2]", "200"]
    assert json.loads(_run_child(_SESSION_CHILD, SPARK_GRAFT_CPUS="3")) == ["local[3]", "32"]


_UDF_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from un_datapipeline_spark.session import get_spark

def double(batches):
    for pdf in batches:
        yield pdf * 2

spark = get_spark()
print(spark.range(3, numPartitions=1).mapInPandas(double, "id long").collect())
spark.stop()
"""


def test_udf_workers_import_package_from_any_cwd(tmp_path):
    """A driver that has the package on its own sys.path only, started
    outside the repo, still runs Python UDF tasks: the workers' daemon
    module is the package's, so they must find it too."""
    out = _run_child(_UDF_CHILD, cwd=tmp_path, SPARK_GRAFT_CPUS="1")
    assert out == "[Row(id=0), Row(id=2), Row(id=4)]"

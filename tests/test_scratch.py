"""Operator scratch storage (session.scratch_dir / release_scratch): every
op that writes scratch files writes them under the checkpoint root's
``scratch/`` dir when SPARK_GRAFT_CHECKPOINT_DIR is set — the one place a
cluster's driver and executors both see — never under the local temp
dir, and release_scratch leaves nothing behind."""

from __future__ import annotations

import ast
import shutil
import tempfile
from pathlib import Path

import pytest

from un_datapipeline_spark.registry import all_operators
from un_datapipeline_spark.session import release_scratch

OPERATORS = Path(__file__).parent.parent / "un_datapipeline_spark" / "operators"
# the ops that fabricate their own input corpus as files first
FIXTURE_WRITERS = (
    "src_binary_files",
    "src_recursive_listing",
    "src_text_wholetext",
    "src_json_malformed",
    "src_manifest_read",
    "stream_checkpoint_resume",
)


def scratch_ops() -> list[str]:
    """Registered ops that reach scratch_dir directly or through a helper
    (run_to_memory, clustered_write, ...), found by an AST walk, so an op
    that starts writing scratch is covered without editing this test."""
    calls: dict[str, set[str]] = {}
    registered: dict[str, str] = {}
    for f in OPERATORS.glob("*.py"):
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            called = calls.setdefault(fn.name, set())
            for c in ast.walk(fn):
                if isinstance(c, ast.Call):
                    called.add(getattr(c.func, "id", getattr(c.func, "attr", "")))
            for d in fn.decorator_list:
                if isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register":
                    registered[fn.name] = d.args[0].value
    reach = {"scratch_dir"}
    while more := {fn for fn, cs in calls.items() if cs & reach} - reach:
        reach |= more
    return sorted(op for fn, op in registered.items() if fn in reach)


@pytest.fixture
def roots(tmp_path, monkeypatch):
    """(checkpoint root, local temp dir), both fresh and isolated."""
    ckpt, local = tmp_path / "ckpt", tmp_path / "local_tmp"
    ckpt.mkdir()
    local.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    monkeypatch.setattr(tempfile, "tempdir", str(local))
    return ckpt, local


def _files(d: Path) -> list[Path]:
    return [p for p in d.rglob("*") if p.is_file()] if d.exists() else []


def test_every_scratch_op_writes_under_the_checkpoint_root(spark, sf_smoke, roots):
    ckpt, local = roots
    names = scratch_ops()
    assert set(FIXTURE_WRITERS) | {"etl_compact_files", "sink_clustered_write"} <= set(names)
    ops = all_operators()
    for name in names:
        ops[name].fn(spark, sf_smoke).toPandas()
        assert _files(ckpt / "scratch"), f"{name} wrote no scratch file"
        assert not list(local.iterdir()), f"{name} wrote to the local temp dir"
        # the only other entry a run may add is the reliable-checkpoint dir
        checkpoints = (spark.sparkContext.getCheckpointDir() or "").rsplit("/", 1)[-1]
        stray = {p.name for p in ckpt.iterdir()} - {"scratch", checkpoints}
        assert not stray, f"{name} wrote outside scratch/: {stray}"
        release_scratch(spark)
        assert not _files(ckpt / "scratch"), f"{name}: release left files"
    release_scratch(spark)  # a second release is a no-op
    assert not list((ckpt / "scratch").iterdir())


def test_scratch_root_deleted_between_calls(spark, sf_smoke, roots):
    """perfbench removes every new temp-dir entry after each pass: the next
    call must recreate the root and rewrite its fixture files."""
    ckpt, _ = roots
    ops = all_operators()
    for name in (*FIXTURE_WRITERS, "etl_compact_files"):
        first = ops[name].fn(spark, sf_smoke).collect()
        shutil.rmtree(ckpt / "scratch")
        assert ops[name].fn(spark, sf_smoke).collect() == first, name
    release_scratch(spark)
    assert not _files(ckpt / "scratch")

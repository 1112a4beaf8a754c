"""Command-line contract of tools/sweep_degenerate.py, the one operator
harness, and of tools/scale_audit.py, which reads its verdict lines.
parse_args runs nothing, so most tests start no Spark; one runs the sweep
in a child process, since its registry loop stops its own session.

Every misuse must abort loudly — a run that silently selects zero ops,
or the wrong corpus, prints a green TOTAL for a gate that never ran.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from tests import corpora

REPO = Path(__file__).resolve().parent.parent


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault(name, mod)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def sw():
    return _load("sweep_degenerate")


def test_every_mode_maps_to_an_existing_builder(sw):
    assert sw.MODES is corpora.MODES and len(sw.MODES) == 18
    assert sw.MODES[None] is corpora.degenerate
    for flag, build in sw.MODES.items():
        assert build.__module__ == "tests.corpora", flag
        assert getattr(corpora, build.__name__) is build, flag
        assert flag is None or flag == f"--{build.__name__}"


def test_wide_corpus_that_does_not_split_aborts(spark, tmp_path):
    """A many-row-group corpus whose lineitem still scans in fewer than
    defaultParallelism tasks aborts the run instead of going green: here
    lineitem is the shipped one-row-group file, which the split size
    derived from the other (larger) wide files leaves under-split."""
    from un_datapipeline_spark.session import conf_scope

    corpora.wide(str(tmp_path))
    shutil.copy(f"{corpora.BASE}/lineitem.parquet", tmp_path / "lineitem.parquet")
    key = "spark.sql.files.maxPartitionBytes"
    with conf_scope(spark, {key: spark.conf.get(key)}):
        with pytest.raises(SystemExit, match="lineitem scans in"):
            corpora.scan_partitions(spark, str(tmp_path))


@pytest.mark.parametrize(
    "argv",
    [
        ["--no-such-mode"],
        ["--tiny", "--skew"],
        ["--wide", "--permuted"],
        ["--sf", "/some/corpus", "--tiny"],
        ["--timeout", "30", "--skew"],
        ["--sf"],
    ],
    ids=[
        "unknown_flag", "two_modes", "wide_and_permuted", "sf_with_mode",
        "timeout_without_solo", "sf_no_dir",
    ],
)
def test_misuse_aborts(sw, argv):
    with pytest.raises(SystemExit):
        sw.parse_args(argv)


def test_solo_skew_parse(sw):
    a = sw.parse_args(["--solo", "--timeout", "30", "--skew", "a", "b"])
    assert (a.build, a.solo, a.timeout, a.only) == (corpora.skew, True, 30, {"a", "b"})
    assert a.sf is None


def test_defaults_and_sf(sw):
    a = sw.parse_args([])
    assert (a.build, a.sf, a.solo, a.timeout, a.only) == (corpora.degenerate, None, False, 120, set())
    a = sw.parse_args(["--sf", "/some/corpus", "op_x"])
    assert (a.build, a.sf, a.only) == (None, "/some/corpus", {"op_x"})


def test_scale_audit_reads_sweep_verdicts():
    lines = [
        "SMOKE rows=4 schema=['l_returnflag', 'sum_qty']",
        "OK agg_stats: rows=3/3 spark_s=0.41",
        "ROWS_ONLY graph_pagerank: rows=120 spark_s=2.50",
        "FAIL fn_math: col c: row 0: 1 != 2 rows=5/5 spark_s=0.07",
        "FAIL join_x: SPARK CRASH boom",
        "CONTRACT src_text_lines: embedded newline",
        "OK llm_bm25_rank: rows=9/9 spark_s=1.20 wall_s=9.8",
        "TOTAL ok=2 rows_only=1 fail=2 ['fn_math', 'join_x']",
    ]
    assert _load("scale_audit").parse_lines(lines) == {
        "agg_stats": 0.41,
        "graph_pagerank": 2.5,
        "fn_math": 0.07,
        "llm_bm25_rank": 1.2,
    }


def test_sf_run_prints_smoke_verdicts_and_total(sf_smoke):
    """The driver mirror end to end on one hash-matched and one rows-only
    op: the session line, the t1 smoke line, one verdict line each, the
    TOTAL, exit 0."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    done = subprocess.run(
        [sys.executable, str(REPO / "tools" / "sweep_degenerate.py"),
         "--sf", sf_smoke, "agg_pricing_summary", "agg_approx_distinct"],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stdout[-2000:] + done.stderr[-2000:]
    lines = done.stdout.splitlines()
    assert lines[0].startswith("SESSION master=local[8] default_parallelism=")
    assert lines[1].startswith("SMOKE rows=") and "sum_qty" in lines[1]
    assert lines[2].startswith("OK agg_pricing_summary: rows=")
    assert lines[3].startswith("ROWS_ONLY agg_approx_distinct: rows=")
    assert lines[4] == "TOTAL ok=1 rows_only=1 fail=0 []"

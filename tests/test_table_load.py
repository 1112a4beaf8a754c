"""Opening a table launches no Spark job.

``tables.read_parquet`` reads the footer schema on the driver and must
give exactly the schema Spark's inference gives; the engine's read-backs
of its own writes pass the written schema.  The guard at the end keeps a
schema-less ``.parquet(`` read from coming back.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from un_datapipeline_spark import tables
from un_datapipeline_spark.session import conf_scope
from un_datapipeline_spark.tables import TABLE_NAMES, load_table, read_parquet

ROOT = Path(__file__).resolve().parents[1]


@contextmanager
def counted_jobs(spark):
    """Yields a one-item list that holds the number of Spark jobs the
    block launched (job group + statusTracker) once the block exits."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    n = [None]
    try:
        yield n
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        n[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def assert_same_schema(spark, path):
    with counted_jobs(spark) as jobs:
        footer = read_parquet(spark, path).schema
    assert footer == spark.read.parquet(path).schema, path
    return jobs[0]


@pytest.fixture(scope="module")
def wide_sf001(tmp_path_factory, sf_t2):
    """perfbench's ``wide`` layout (64 row groups per file) of sf0.01."""
    from perfbench import corpus

    out = str(tmp_path_factory.mktemp("wide_sf001"))
    corpus.generate(sf_t2, out, seed=1, layout="wide")
    return out


@pytest.mark.parametrize("sf", ["sf_smoke", "sf_t2"])
@pytest.mark.parametrize("table", TABLE_NAMES)
def test_footer_schema_matches_inference(spark, request, sf, table):
    sf_dir = request.getfixturevalue(sf)
    assert assert_same_schema(spark, f"{sf_dir}/{table}.parquet") == 0


def test_footer_schema_matches_inference_wide(spark, wide_sf001):
    for table in TABLE_NAMES:
        assert assert_same_schema(spark, f"{wide_sf001}/{table}.parquet") == 0


def test_footer_schema_spark_written_dir(spark, tmp_path):
    out = str(tmp_path / "flat")
    spark.range(50).selectExpr(
        "id", "cast(id AS string) AS s", "timestamp_micros(id) AS ts",
        "array(id, id) AS arr", "named_struct('a', id) AS st", "cast(id AS decimal(12, 2)) AS d",
    ).repartition(3).write.parquet(out)
    assert assert_same_schema(spark, out) == 0


def test_footer_schema_pyarrow_edge_files(spark, tmp_path):
    ns = pa.array([1_700_000_000_123_456_789, None], type=pa.timestamp("ns"))
    cases = {
        "ns.parquet": pa.table({"ts": ns, "v": [1.0, 2.0]}),
        "zero_rows.parquet": pa.table({"a": pa.array([], pa.int64()), "b": pa.array([], pa.string())}),
        "null_col.parquet": pa.table({"a": [1, 2], "n": pa.nulls(2)}),
    }
    for name, table in cases.items():
        pq.write_table(table, tmp_path / name)
        assert assert_same_schema(spark, str(tmp_path / name)) == 0, name


def test_load_table_launches_no_job(spark, sf_t2, monkeypatch):
    monkeypatch.setattr(tables, "_LOAD_CACHE", {})
    with counted_jobs(spark) as jobs:
        dfs = [load_table(spark, sf_t2, t) for t in TABLE_NAMES]
    assert len(dfs) == 10
    assert jobs[0] == 0


def test_partitioned_merged_and_summary_inputs_match_spark(spark, tmp_path):
    part = str(tmp_path / "part")
    spark.range(30).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(part)
    assert "k" in read_parquet(spark, part).schema.names
    assert_same_schema(spark, part)

    merged = tmp_path / "merged"
    merged.mkdir()
    pq.write_table(pa.table({"x": [1]}), merged / "a.parquet")
    pq.write_table(pa.table({"x": [2], "y": ["b"]}), merged / "b.parquet")
    # without merging, both readers take the first file's footer
    assert read_parquet(spark, str(merged)).schema.names == ["x"]
    assert_same_schema(spark, str(merged))
    # ...unless a summary file is present
    pq.write_metadata(pa.schema([("x", pa.int64()), ("s", pa.string())]), merged / "_common_metadata")
    assert read_parquet(spark, str(merged)).schema.names == ["x", "s"]
    assert_same_schema(spark, str(merged))
    (merged / "_common_metadata").unlink()
    with conf_scope(spark, {"spark.sql.parquet.mergeSchema": "true"}):
        assert read_parquet(spark, str(merged)).schema.names == ["x", "y"]
        assert_same_schema(spark, str(merged))


def test_empty_dir_keeps_spark_error(spark, tmp_path):
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_path))


def test_etl_compact_files_jobs_on_wide_input(spark, wide_sf001):
    """The op's only jobs are its two writes and the audit row: no AQE
    probe job, no schema-inference job on its read-backs."""
    from un_datapipeline_spark.operators.etl import etl_compact_files

    load_table(spark, wide_sf001, "lineitem")  # the table open is not the op's
    with counted_jobs(spark) as jobs:
        row = etl_compact_files(spark, wide_sf001).collect()
    assert row[0].partitions_before == 32
    assert jobs[0] <= 5


_CACHE_CHILD = """
import json, sys
from un_datapipeline_spark import tables
from un_datapipeline_spark.session import get_spark

sf = sys.argv[1]
spark = get_spark(app_name="load-cache-a")
for t in ("region", "nation", "supplier"):
    tables.load_table(spark, sf, t)
spark.stop()
spark = get_spark(app_name="load-cache-b")
tables.load_table(spark, sf, "region")
live = spark.sparkContext.applicationId
print(json.dumps({"live": live, "apps": sorted({k[0] for k in tables._LOAD_CACHE}),
                  "n": len(tables._LOAD_CACHE)}))
spark.stop()
"""


def test_load_cache_forgets_stopped_context(sf_smoke):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "512m"}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    done = subprocess.run(
        [sys.executable, "-c", _CACHE_CHILD, sf_smoke],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(done.stdout.strip().splitlines()[-1])
    assert got["apps"] == [got["live"]]
    assert got["n"] == 1


# ---------------------------------------------------------------------------
# Guard: no schema-less parquet read in the package
# ---------------------------------------------------------------------------

# module:function -> why a schema-less read is right there
ALLOWED_INFERENCE = {
    "tables:read_parquet": "the deferral to Spark's inference for partition "
    "discovery, mergeSchema and inputs with no data file",
    "sources:src_schema_evolution": "merging footers with mergeSchema is what the op shows",
}


def _chain(node):
    """Attribute names along a call chain's receiver, e.g.
    ``spark.read.option(..).parquet`` -> {"read", "option"}."""
    names = set()
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        else:
            return names


def schema_less_reads(source: str, module: str) -> list[str]:
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and func is None:
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain = _chain(node.func.value)
            is_read = bool(chain & {"read", "readStream"})
            if is_read and "schema" not in chain and f"{module}:{func}" not in ALLOWED_INFERENCE:
                found.append(f"{module}:{func}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return found


def test_guard_catches_schema_less_read():
    bad = "def op(spark):\n    return spark.read.option('a', 1).parquet('x')\n"
    good = "def op(spark, df):\n    df.write.parquet('x')\n    return spark.read.schema(df.schema).parquet('x')\n"
    assert schema_less_reads(bad, "m") == ["m:op:2"]
    assert schema_less_reads(good, "m") == []


def test_no_schema_less_parquet_reads_in_package():
    pkg = ROOT / "un_datapipeline_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        found += schema_less_reads(path.read_text(), path.stem)
    assert found == [], (
        "schema-less .parquet( read: open external files with tables.read_parquet, "
        f"read back the engine's own writes with .schema(written.schema): {found}"
    )

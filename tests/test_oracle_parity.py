"""Differential test: every registered operator vs its DuckDB oracle.

This mirrors the driver's t2 gate (sf0.01) through the same per-op check
as the driver mirror (``strict_diff.check_op``), so failures surface in
the inner loop, not at hand-off.
"""

from __future__ import annotations

import pytest

from un_datapipeline_spark.registry import all_operators
from tests.oracle_diff import duck_connect
from tests.strict_diff import check_op

OPS = all_operators()


@pytest.fixture(scope="session")
def duck(sf_t2):
    con = duck_connect(sf_t2)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(OPS))
def test_operator_matches_oracle(spark, duck, sf_t2, name):
    c = check_op(spark, duck, OPS[name], sf_t2)
    assert c.verdict in ("OK", "ROWS_ONLY"), f"{c.verdict} {name}: {c.detail}"
    # Positional column order too: the driver's hash sorts columns, but
    # a query's declared order is part of its contract with a reader.
    assert c.spark_cols == c.oracle_cols, (
        f"column order: spark={list(c.spark_cols)} oracle={list(c.oracle_cols)}"
    )


def test_entry_smoke(spark, sf_smoke):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_contract_projection():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert q, "no operators registered"

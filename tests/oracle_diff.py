"""The DuckDB side of the driver mirror (SURVEY.md §5.2).

``duck_connect`` opens the oracle views over a corpus dir, applying the
engine's ingest contract; ``canon_cell`` canonicalizes one cell for the
value compares of perfbench's bench-query check.  The operator compare
itself is ``tests/strict_diff.py``.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from un_datapipeline_spark.tables import TABLE_NAMES, VALUE_MAGNITUDE_SQL


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        if t == "events":
            # Mirror the engine's ingest contract (tables.py
            # normalize_events_value): non-finite OR absurd-magnitude
            # (|value| > 9e15 — beyond the exact-cents int64 domain, see
            # R10_MAGNITUDE_PLAN.md; bound raised from 1e12 per ADVICE
            # r10) measurements are missing.  Identity on sane finite
            # data — the grading driver's plain views agree on every
            # shipped corpus; this only matters for the non-finite /
            # magnitude robustness sweeps.
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                "SELECT * REPLACE (CASE WHEN isnan(value) OR isinf(value) "
                f"OR abs(value) > {VALUE_MAGNITUDE_SQL} "
                "THEN NULL ELSE value END AS value) "
                f"FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon_cell(v):
    """Canonicalize a cell so Spark and DuckDB values compare exactly."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0
        return v + 0.0
    if isinstance(v, int):
        return int(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon_cell(x)) for k, x in v.items()))
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    try:  # numpy / pandas scalars, Decimal
        import numpy as np

        if isinstance(v, np.floating):
            return canon_cell(float(v))
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.ndarray):
            return tuple(canon_cell(x) for x in v.tolist())
    except ImportError:
        pass
    import decimal

    if isinstance(v, decimal.Decimal):
        return canon_cell(float(v))
    return str(v)

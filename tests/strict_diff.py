"""Strict driver-mirror differential check (round-2 replacement for the
value-equality mirror in oracle_diff.py).

Round-1 lesson (CORRECTNESS_r01.json vs tests/driver_sim.py): the grading
driver canonicalizes PANDAS frames — it sorts columns by name, sorts rows
by all columns, then hashes the values.  Two consequences the old mirror
missed:

1. dtype KIND matters.  ``5`` (int64) and ``5.0`` (float64) are ``==`` in
   Python but hash differently in pandas — e.g. Spark ``F.ceil`` returns
   LONG while DuckDB ``ceil(DOUBLE)`` returns DOUBLE, which is exactly the
   fn_math ``hash_match: false`` the driver reported while driver_sim
   said "match".
2. array-typed cells CRASH the driver's canonicalizer
   (``TypeError: unhashable type: 'numpy.ndarray'`` inside
   ``sort_values``) — so any operator emitting a raw list column can
   never be verified.

This mirror reproduces both behaviors: it fetches pandas frames on both
sides (``DataFrame.toPandas()`` / ``duckdb .df()``), applies the same
canonicalization (sorted columns, ``sort_values`` over all columns — so
ndarray cells raise exactly like the driver), and then compares dtype
kinds and exact values.  Local red ⇔ driver red is the design goal.

This module holds the compare only.  To run it over the registry on a
corpus, use the sweep (one verdict line per op) or the driver mirror:

    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01 fn_math
    python tests/driver_sim.py             # all operators at sf0.01
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization, reproduced from its traceback:
    column-name sort, then a row sort over every column (this is the call
    that raises ``TypeError: unhashable type`` on ndarray cells — keep it
    exact so harness crashes reproduce locally)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(dtype) -> str:
    """Collapse dtypes to the kinds that matter for a value hash."""
    k = dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def _date_norm(s: pd.Series) -> pd.Series:
    """Spark toPandas renders DATE columns as object-of-datetime.date
    while duckdb .df() gives datetime64 — the real driver hashes these
    equal (fn_datetime/fn_cast_types were driver-green in r1 with DATE
    outputs), so normalize pure-date object columns to datetime64."""
    import datetime as _dt

    if s.dtype.kind == "O":
        vals = [v for v in s if v is not None]
        if vals and all(
            isinstance(v, _dt.date) and not isinstance(v, _dt.datetime) for v in vals
        ):
            return pd.to_datetime(s)
    return s


def _col_equal(a: pd.Series, b: pd.Series) -> tuple[bool, str]:
    """Exact (bit-level for floats) equality with NaN==NaN and NaT==NaT."""
    if _kind(a.dtype) == "datetime" and _kind(b.dtype) == "datetime":
        av = a.astype("datetime64[us]")
        bv = b.astype("datetime64[us]")
        eq = (av.values == bv.values) | (av.isna().values & bv.isna().values)
        if eq.all():
            return True, ""
        i = int(np.argmin(eq))
        return False, f"row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
    if _kind(a.dtype) == "float" and _kind(b.dtype) == "float":
        av, bv = a.values.astype("float64"), b.values.astype("float64")
        eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        if eq.all():
            return True, ""
        i = int(np.argmin(eq))
        return False, f"row {i}: {av[i]!r} != {bv[i]!r} (diff={av[i] - bv[i]!r})"
    # object / int / bool: element-wise with None==None (and None==NaN for
    # object columns, which both render as null on both sides)
    av, bv = a.tolist(), b.tolist()

    def _null(x):
        return x is None or (isinstance(x, float) and np.isnan(x))

    for i, (x, y) in enumerate(zip(av, bv)):
        if _null(x) and _null(y):
            continue
        if x != y or type(x) is not type(y):
            return False, f"row {i}: {x!r} ({type(x).__name__}) != {y!r} ({type(y).__name__})"
    return True, ""


def strict_compare(sp: pd.DataFrame, oc: pd.DataFrame) -> list[str]:
    """Return a list of problems (empty == driver-hash-green)."""
    problems: list[str] = []
    # Case-SENSITIVE name comparison: the driver's schema check is
    # case-insensitive but its value-hash canonicalization sorts column
    # names case-SENSITIVELY, so a case-mismatched alias misaligns the
    # sorted column order ('A','N','R','key' vs 'a','key','n','r') and
    # hash-fails even with bit-identical cells — exactly how
    # reshape_transpose shipped locally green and failed at the driver
    # (CORRECTNESS_r05).  No .lower() anywhere in this mirror.
    if sorted(sp.columns) != sorted(oc.columns):
        problems.append(
            f"columns (case-sensitive): spark={sorted(sp.columns)} "
            f"oracle={sorted(oc.columns)}"
        )
        return problems
    if len(sp) != len(oc):
        problems.append(f"row counts: spark={len(sp)} oracle={len(oc)}")
        return problems
    try:
        cs = canon(sp)
    except TypeError as exc:
        problems.append(f"HARNESS-CRASH (spark side canon): {exc}")
        return problems
    try:
        co = canon(oc)
    except TypeError as exc:
        problems.append(f"HARNESS-CRASH (oracle side canon): {exc}")
        return problems
    for col in cs.columns:
        a, b = _date_norm(cs[col]), _date_norm(co[col])
        cs[col], co[col] = a, b
        ka, kb = _kind(a.dtype), _kind(b.dtype)
        if ka != kb:
            problems.append(f"col {col}: dtype kind {ka} (spark) != {kb} (oracle)")
            continue
        ok, msg = _col_equal(cs[col], co[col])
        if not ok:
            problems.append(f"col {col}: {msg}")
    return problems


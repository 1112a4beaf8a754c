"""Strict driver-mirror differential check: one compare, one per-op check.

The grading driver canonicalizes PANDAS frames — it sorts columns by
name, sorts rows by all columns, then hashes the values.  Two
consequences a plain value-equality compare misses (round 1 shipped
one, and it passed ops the driver failed):

1. dtype KIND matters.  ``5`` (int64) and ``5.0`` (float64) are ``==`` in
   Python but hash differently in pandas — e.g. Spark ``F.ceil`` returns
   LONG while DuckDB ``ceil(DOUBLE)`` returns DOUBLE, which is exactly the
   fn_math ``hash_match: false`` the driver reported while the old
   mirror said "match".
2. array-typed cells CRASH the driver's canonicalizer
   (``TypeError: unhashable type: 'numpy.ndarray'`` inside
   ``sort_values``) — so any operator emitting a raw list column can
   never be verified.

This mirror reproduces both behaviors: it fetches pandas frames on both
sides (``DataFrame.toPandas()`` / ``duckdb .df()``), applies the same
canonicalization (sorted columns, ``sort_values`` over all columns — so
ndarray cells raise exactly like the driver), and then compares dtype
kinds and exact values.  Local red ⇔ driver red is the design goal.

:func:`check_op` runs one registered operator through it and returns
its verdict.  Two runners call it: Tier-1's ``tests/test_oracle_parity.py``
(pytest session, sf0.01) and ``tools/sweep_degenerate.py``'s registry
loop (a plain session, any corpus), which is also the driver mirror:

    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01          # all ops
    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01 fn_math  # named ops
"""

from __future__ import annotations

import time
from typing import NamedTuple

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


class Check(NamedTuple):
    """One operator's verdict: ``OK`` (hash-matched its oracle),
    ``ROWS_ONLY`` (no oracle; the driver's canon accepts the frame),
    ``CONTRACT`` (a deliberate :class:`ContractViolation` fail-fast) or
    ``FAIL``, with a one-line detail.  The column lists are set when both
    engines ran."""

    verdict: str
    detail: str
    spark_cols: tuple[str, ...] = ()
    oracle_cols: tuple[str, ...] = ()


def check_op(spark, con, op, d: str) -> Check:
    """Run ``op`` on the corpus at ``d`` in ``spark`` and its oracle on the
    DuckDB connection ``con`` (``oracle_diff.duck_connect(d)``), and
    strict-compare the two frames."""
    from un_datapipeline_spark.registry import ContractViolation

    t0 = time.perf_counter()
    try:
        spdf = op.fn(spark, d).toPandas()
    except ContractViolation as ex:
        # deliberate fail-fast on input the op's contract forbids
        # (e.g. src_text_lines on embedded newlines) — the engine-correct
        # answer on a corrupt corpus, never a crash
        return Check("CONTRACT", str(ex).splitlines()[0][:160])
    except Exception as ex:
        return Check("FAIL", f"SPARK CRASH {str(ex).splitlines()[0][:160]}")
    stats = f"spark_s={time.perf_counter() - t0:.2f}"
    if op.oracle is None:
        # rows-only still goes through the driver's canon, so an
        # unhashable array cell fails here, not under the driver
        try:
            canon(spdf)
        except TypeError as ex:
            return Check("FAIL", f"canon crash {ex} {stats}")
        return Check("ROWS_ONLY", f"rows={len(spdf)} {stats}")
    try:
        ocdf = con.execute(op.oracle).df()
    except Exception as ex:
        return Check("FAIL", f"DUCKDB CRASH {str(ex).splitlines()[0][:160]}")
    stats = f"rows={len(spdf)}/{len(ocdf)} {stats}"
    cols = tuple(spdf.columns), tuple(ocdf.columns)
    problems = strict_compare(spdf, ocdf)
    if problems:
        return Check("FAIL", f"{problems[0][:160]} {stats}", *cols)
    return Check("OK", stats, *cols)

"""Lint: scale-posture rules checked by reading the package source.

A pure-Python AST scan of ``un_datapipeline_spark/``; it starts no Spark
and runs in well under a second.  Each rule has a seeded-snippet test, so
a rule that stops seeing its spelling fails too.  Rules are numbered as
in the old ROADMAP item 7, the scale lint (rule 5, bounded driver
collects, is open under ROADMAP item 2).

1. **One owner for materialization.**  ``.localCheckpoint(`` appears only
   in ``session.py``, whose ``ckpt``/``graft_checkpoint`` choose between
   the local and the reliable checkpoint.
2. **No hand-picked widths.**  ``.repartition(`` / ``.coalesce(`` with a
   literal or ``defaultParallelism`` width appears only in ``scale.py``
   (``parallelize_scan`` and the bucketed writer size from the session)
   or under an ``ALLOWED_WIDTHS`` entry, keyed ``module:function`` with
   its reason.  A width given as a column is a key, not a width.
3. **The package reads the environment, never writes it.**  No
   ``os.environ.setdefault`` and no ``os.environ[...] =``: a write leaks
   into every later session and worker of the process.
4. **No ``tempfile`` in operator modules.**  Operator scratch storage
   goes through ``session.scratch_dir``, which is visible to the whole
   cluster and removed on release; a local temp dir is neither.
6. **One owner for the exact-cents encoding.**  A 2-decimal money value
   becomes exact integer cents, ``round(x * 100)`` cast to BIGINT, on both
   engines; that format is what keeps every money lane hash-identical to
   its DuckDB oracle and magnitude-safe (tables.py).  Only ``tables.py``
   spells it: ``cents_col`` on Spark, ``cents_sql`` on DuckDB and
   ``cents_np`` for pandas kernels.  Anywhere else a Spark
   ``F.round(<x> * 100).cast("long")`` or a SQL ``CAST(round(<x> * 100) AS
   BIGINT)`` / ``round(<x> * 100)::BIGINT`` is a finding, keyed
   ``module:name``: the registered operator whose oracle text holds it
   (through the module-level names that text interpolates), else the
   top-level function or constant that holds it.  ``TIGHT_CENTS_ORACLES``
   lists the oracles that may keep their own spelling, each with its
   reason.
7. **One owner for the hub cap.**  Elements held by more than
   ``MAX_GRAM_DF`` sets are dropped before a co-occurrence self-join by
   ``scale.drop_hot``; its DuckDB mirror for the gram family is
   ``dedup_extras.drop_hot_grams_sql``.  A comparison against
   ``MAX_GRAM_DF`` anywhere else — Python (``F.col("df") > MAX_GRAM_DF``)
   or SQL text interpolating it (``HAVING count(*) > {MAX_GRAM_DF}``) —
   is a second copy of the cap, keyed ``module:function``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "un_datapipeline_spark"
OPERATORS = PKG / "operators"

_TIGHT = (
    "hash-pinned oracle text (tests/oracle_manifest.json) spells round(x*100) "
    "without spaces; rendering it through cents_sql changes the hash, which "
    "needs a FORCE_REFRESH entry, so it moves when the manifest is regenerated "
    "at a round boundary"
)
TIGHT_CENTS_ORACLES = {
    f"warehouse_queries:tpch_{q}": _TIGHT
    for q in (
        "q3_shipping_priority",
        "q5_regional_revenue",
        "q6_revenue_delta",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q10_returned_items",
        "q14_promo_effect",
        "q15_top_supplier",
        "q17_small_qty_revenue",
        "q18_volume_customer",
        "q19_bracket_revenue",
        "q22_dormant_customers",
    )
} | {
    "udfs:udf_pandas_iter": _TIGHT,
    "udfs:udtf_table_arg": _TIGHT,
    "joins:join_shuffle_hash": (
        "hash-pinned oracle text breaks the line between round(...) and "
        "AS BIGINT, which cents_sql cannot render; moves with the tight ones"
    ),
} | {
    f"training_prep:{op}": (
        "hash-pinned oracle text spells ROUND(x * 100, 0); moves with the "
        "tight ones"
    )
    for op in ("ts_anomaly_zscore", "agg_corr_pearson")
}


# --------------------------------------------------------------------------
# Rule 6: the exact-cents spelling
# --------------------------------------------------------------------------

_SQL_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)
_SQL_TIMES_100 = re.compile(r"\*\s*100\s*(,\s*0\s*)?$")
_SQL_CAST_OPEN = re.compile(r"CAST\s*\(\s*$", re.IGNORECASE)
_SQL_AS_BIGINT = re.compile(r"\s+AS\s+BIGINT\s*\)", re.IGNORECASE)
_SQL_COLON_BIGINT = re.compile(r"\s*::\s*BIGINT\b", re.IGNORECASE)


def _sql_spellings(text: str) -> int:
    """Count ``CAST(round(<x> * 100[, 0]) AS BIGINT)`` and
    ``round(<x> * 100[, 0])::BIGINT`` in SQL text, for any expression ``x``."""
    n = 0
    for m in _SQL_ROUND.finditer(text):
        depth, i = 1, m.end()
        while i < len(text) and depth:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        if depth or not _SQL_TIMES_100.search(text[m.end() : i - 1]):
            continue
        cast = _SQL_CAST_OPEN.search(text[: m.start()]) and _SQL_AS_BIGINT.match(text, i)
        n += bool(cast or _SQL_COLON_BIGINT.match(text, i))
    return n


def _is_times_100(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and any(
            isinstance(side, ast.Constant) and side.value == 100
            for side in (node.left, node.right)
        )
    )


def _is_spark_cents(node: ast.AST) -> bool:
    """``<...>.round(<x> * 100[, 0]).cast("long" | "bigint")``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).lower() in ("long", "bigint")
    ):
        return False
    inner = node.func.value
    f = getattr(inner, "func", None)
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name == "round" and bool(inner.args) and _is_times_100(inner.args[0])


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _string_text(node: ast.AST) -> str | None:
    """Text of a string literal; an f-string's interpolations read ``{}``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    return None


def _spellings(stmt: ast.stmt, docstrings: set[int]) -> int:
    """Exact-cents spellings, Spark and SQL, inside one top-level statement."""
    skip = set(docstrings)
    for node in ast.walk(stmt):
        if isinstance(node, ast.JoinedStr):
            skip.update(id(v) for v in node.values)  # read whole, below
    n = 0
    for node in ast.walk(stmt):
        n += _is_spark_cents(node)
        text = None if id(node) in skip else _string_text(node)
        if text is not None:
            n += _sql_spellings(text)
    return n


def _bound_name(stmt: ast.stmt) -> str:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names[0] if names else f"line{stmt.lineno}"


def _registrations(stmt: ast.stmt):
    """(op name, oracle expression) of each ``@register`` on a function."""
    for d in getattr(stmt, "decorator_list", []):
        if (
            isinstance(d, ast.Call)
            and getattr(d.func, "id", getattr(d.func, "attr", None)) == "register"
            and d.args
            and isinstance(d.args[0], ast.Constant)
        ):
            oracle = next((k.value for k in d.keywords if k.arg == "oracle"), None)
            yield d.args[0].value, oracle


def cents_findings(src: str, module: str) -> dict[str, int]:
    """``{"module:name": spellings}`` for one module's source (see rule 6)."""
    tree = ast.parse(src)
    docstrings = _docstrings(tree)
    values: dict[str, ast.AST] = {}
    hits: dict[str, int] = {}
    for stmt in tree.body:
        name = _bound_name(stmt)
        values[name] = stmt
        n = _spellings(stmt, docstrings)
        if n:
            hits[name] = hits.get(name, 0) + n
    findings: dict[str, int] = {}
    claimed: set[str] = set()
    for stmt in tree.body:
        for op, oracle in _registrations(stmt):
            if oracle is None:
                continue
            seen: set[str] = set()
            todo = [n.id for n in ast.walk(oracle) if isinstance(n, ast.Name)]
            while todo:
                name = todo.pop()
                if name in seen or name not in values:
                    continue
                seen.add(name)
                todo += [n.id for n in ast.walk(values[name]) if isinstance(n, ast.Name)]
            held = seen & hits.keys()
            if held:
                findings[f"{module}:{op}"] = sum(hits[n] for n in held)
                claimed |= held
    for name, n in hits.items():
        if name not in claimed:
            key = f"{module}:{name}"
            findings[key] = findings.get(key, 0) + n
    return findings


def _package_findings(root: Path = PKG) -> dict[str, int]:
    found: dict[str, int] = {}
    for p in sorted(root.rglob("*.py")):
        if p.name != "tables.py":
            found |= cents_findings(p.read_text(), p.stem)
    return found


def test_exact_cents_has_one_owner():
    found = _package_findings()
    stray = {k: n for k, n in found.items() if k not in TIGHT_CENTS_ORACLES}
    assert not stray, (
        f"{sum(stray.values())} exact-cents spellings outside tables.py — use "
        f"tables.cents_col(col) / tables.cents_sql(col): {stray}"
    )
    stale = sorted(TIGHT_CENTS_ORACLES.keys() - found.keys())
    assert not stale, f"allowlisted oracles no longer spell cents themselves: {stale}"


def test_owners_spell_the_encoding():
    """The helpers in tables.py are what the rule recognizes."""
    found = cents_findings((PKG / "tables.py").read_text(), "tables")
    assert {"tables:cents_col", "tables:cents_sql"} <= found.keys()


@pytest.mark.parametrize(
    "snippet",
    [
        'def f(df):\n    return df.select(F.round(F.col("value") * 100).cast("long"))\n',
        "cents = lambda c: F.round(c * 100).cast('bigint')\n",
        'def _c(col):\n    return F.round(100 * F.col(col), 0).cast("long")\n',
        'Q = """SELECT CAST(round(value * 100) AS BIGINT) FROM events"""\n',
        'Q = f"""SELECT cast( ROUND({c}*100) as bigint) FROM t"""\n',
        'Q = "SELECT sum(round((a + b) * 100)::BIGINT) FROM t"\n',
        'Q = "SELECT CAST(ROUND(value * 100, 0) AS BIGINT) FROM events"\n',
        'Q = """SELECT CAST(round(l.l_tax * 100) AS BIGINT)"""\n'
        '@register("op_x", oracle=Q)\n'
        "def op_x(spark, sf_dir):\n    pass\n",
    ],
)
def test_cents_rule_catches_seeded_spelling(snippet):
    assert cents_findings(snippet, "seeded")


def test_cents_rule_spares_other_roundings():
    src = (
        '"""Docstring: CAST(round(value * 100) AS BIGINT) is tables.py\'s."""\n'
        'A = "CAST(round(l_extendedprice * 100) AS DOUBLE)"\n'
        'B = "CAST(round(value * 1000) AS BIGINT)"\n'
        'C = F.round(F.col("value") * 100, 2)\n'
        "D = cents_col('value')\n"
    )
    assert cents_findings(src, "seeded") == {}


def test_cents_rule_keys_oracle_by_operator():
    src = (
        'REV = "CAST(round(p*100) AS BIGINT)"\n'
        'Q1 = f"SELECT sum({REV}) FROM t"\n'
        '@register("op_a", oracle=Q1)\n'
        "def op_a(spark, sf_dir):\n    pass\n"
        '@register("op_b", oracle=f"SELECT {REV}")\n'
        "def op_b(spark, sf_dir):\n    pass\n"
    )
    assert cents_findings(src, "m") == {"m:op_a": 1, "m:op_b": 1}


# --------------------------------------------------------------------------
# Rule 4: no tempfile in operator modules
# --------------------------------------------------------------------------


def tempfile_uses(src: str) -> list[int]:
    """Line numbers that import or name the ``tempfile`` module."""
    lines = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            if any(a.name.split(".")[0] == "tempfile" for a in node.names):
                lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            lines.append(node.lineno)
        elif isinstance(node, ast.Name) and node.id == "tempfile":
            lines.append(node.lineno)
    return lines


def test_operators_use_no_tempfile():
    found = {
        p.name: lines
        for p in sorted(OPERATORS.glob("*.py"))
        if (lines := tempfile_uses(p.read_text()))
    }
    assert not found, f"operator scratch must use session.scratch_dir: {found}"


@pytest.mark.parametrize(
    "snippet",
    [
        "import tempfile\n",
        "import os, tempfile as tf\n",
        "from tempfile import mkdtemp\n",
        "def f():\n    return tempfile.mkdtemp()\n",
    ],
)
def test_tempfile_rule_catches_seeded_use(snippet):
    assert tempfile_uses(snippet)


# --------------------------------------------------------------------------
# Rules 1-3: materialization, widths, environment writes
# --------------------------------------------------------------------------

ALLOWED_WIDTHS = {
    "dedup_extras:llm_line_dedup_reconstruct": (
        "repartition(defaultParallelism) shrinks wide input; ROADMAP 2(a), open"
    ),
    "etl:etl_compact_files": (
        "the op's layout contract: its oracle pins exactly 32 partitions "
        "written by repartition(32, l_orderkey) and 4 after coalesce(4)"
    ),
}


def local_checkpoints(src: str) -> list[int]:
    """Lines that call ``<x>.localCheckpoint(...)``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]


def _is_width(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant) and isinstance(node.value, int):
        return True
    return any(
        getattr(n, "attr", getattr(n, "id", None)) == "defaultParallelism"
        for n in ast.walk(node)
    )


def fixed_widths(src: str, module: str) -> dict[str, list[int]]:
    """``{"module:function": [lines]}`` of ``.repartition(`` /
    ``.coalesce(`` calls whose width is a literal or reads
    ``defaultParallelism`` (``F.coalesce`` is the SQL function, not a
    width)."""
    found: dict[str, list[int]] = {}
    for stmt in ast.parse(src).body:
        name = getattr(stmt, "name", None) or f"line{stmt.lineno}"
        for node in ast.walk(stmt):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("repartition", "coalesce")
                and getattr(node.func.value, "id", None) != "F"
            ):
                continue
            width = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "numPartitions"), None
            )
            if width is not None and _is_width(width):
                found.setdefault(f"{module}:{name}", []).append(node.lineno)
    return found


def _is_environ(node: ast.AST) -> bool:
    return getattr(node, "attr", getattr(node, "id", None)) == "environ"


def environ_writes(src: str) -> list[int]:
    """Lines with ``os.environ.setdefault(...)`` or ``os.environ[k] = ...``
    (plain, annotated or augmented assignment)."""
    lines = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "setdefault"
            and _is_environ(node.func.value)
        ):
            lines.append(node.lineno)
        targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)) and any(
            isinstance(t, ast.Subscript) and _is_environ(t.value) for t in targets
        ):
            lines.append(node.lineno)
    return lines


def _scan(rule, skip: str = "") -> dict[str, list[int]]:
    return {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if p.name != skip and (lines := rule(p.read_text()))
    }


def test_local_checkpoint_only_in_session():
    found = _scan(local_checkpoints, skip="session.py")
    assert not found, f"materialize through session.ckpt / graft_checkpoint: {found}"


def test_fixed_widths_only_in_scale_or_allowlisted():
    found: dict[str, list[int]] = {}
    for p in sorted(PKG.rglob("*.py")):
        if p.name != "scale.py":
            found |= fixed_widths(p.read_text(), p.stem)
    stray = {k: v for k, v in found.items() if k not in ALLOWED_WIDTHS}
    assert not stray, f"size partitions through scale.py (parallelize_scan): {stray}"
    stale = sorted(ALLOWED_WIDTHS.keys() - found.keys())
    assert not stale, f"allowlisted functions no longer fix a width: {stale}"


def test_package_never_writes_environ():
    found = _scan(environ_writes)
    assert not found, f"read the environment, pass values explicitly: {found}"


@pytest.mark.parametrize(
    "snippet",
    [
        "def f(df):\n    return df.localCheckpoint()\n",
        "x = spark.range(3).localCheckpoint(eager=False)\n",
    ],
)
def test_local_checkpoint_rule_catches_seeded_use(snippet):
    assert local_checkpoints(snippet)


@pytest.mark.parametrize(
    "snippet",
    [
        "def f(df):\n    return df.repartition(32)\n",
        "def f(df):\n    return df.coalesce(1)\n",
        "def f(df):\n    return df.repartition(numPartitions=8)\n",
        "def f(spark, df):\n"
        "    return df.repartition(spark.sparkContext.defaultParallelism)\n",
        'def f(sc, df):\n    return df.repartition(max(8, sc.defaultParallelism), "k")\n',
    ],
)
def test_width_rule_catches_seeded_width(snippet):
    assert fixed_widths(snippet, "seeded") == {"seeded:f": [2]}


def test_width_rule_spares_keys_and_sql_coalesce():
    src = (
        "def f(df, n):\n"
        '    a = df.repartition("src")\n'
        "    b = df.repartition(n)\n"
        '    c = df.select(F.coalesce(F.col("x"), F.lit(0)))\n'
        '    return df.repartition(F.col("k"))\n'
    )
    assert fixed_widths(src, "seeded") == {}


@pytest.mark.parametrize(
    "snippet",
    [
        'os.environ.setdefault("SPARK_GRAFT_X", "1")\n',
        'def f():\n    os.environ["SPARK_GRAFT_X"] = "1"\n',
        'from os import environ\nenviron["X"] = "1"\n',
        'os.environ["PATH"] += ":/x"\n',
    ],
)
def test_environ_rule_catches_seeded_write(snippet):
    assert environ_writes(snippet)


def test_environ_rule_spares_reads():
    src = (
        'a = os.environ.get("X", "1")\n'
        'b = os.environ["Y"]\n'
        'c = {**os.environ, "Z": "1"}\n'
    )
    assert environ_writes(src) == []


# --------------------------------------------------------------------------
# Rule 7: one owner for the hub cap
# --------------------------------------------------------------------------

HUB_CAP_OWNERS = {"scale:drop_hot", "dedup_extras:drop_hot_grams_sql"}

_SQL_COMPARE_END = re.compile(r"[<>]=?\s*$")


def _is_cap(node: ast.AST) -> bool:
    return getattr(node, "id", getattr(node, "attr", None)) == "MAX_GRAM_DF"


def hub_cap_findings(src: str, module: str) -> dict[str, list[int]]:
    """``{"module:function": [lines]}`` of comparisons against
    ``MAX_GRAM_DF`` (a name or an attribute): a Python ``<``/``<=``/``>``/
    ``>=`` with it on either side, or an f-string that interpolates it
    right after a SQL comparison operator."""
    found: dict[str, list[int]] = {}
    for stmt in ast.parse(src).body:
        name = getattr(stmt, "name", None) or f"line{stmt.lineno}"
        for node in ast.walk(stmt):
            hit = isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE)) for op in node.ops
            ) and any(_is_cap(side) for side in (node.left, *node.comparators))
            if isinstance(node, ast.JoinedStr):
                hit = any(
                    isinstance(v, ast.FormattedValue)
                    and _is_cap(v.value)
                    and isinstance(prev, ast.Constant)
                    and _SQL_COMPARE_END.search(prev.value)
                    for prev, v in zip(node.values, node.values[1:])
                )
            if hit:
                found.setdefault(f"{module}:{name}", []).append(node.lineno)
    return found


def test_hub_cap_has_one_owner():
    found: dict[str, list[int]] = {}
    for p in sorted(PKG.rglob("*.py")):
        found |= hub_cap_findings(p.read_text(), p.stem)
    stray = {k: v for k, v in found.items() if k not in HUB_CAP_OWNERS}
    assert not stray, f"cap hub elements through scale.drop_hot: {stray}"
    assert HUB_CAP_OWNERS <= found.keys(), f"owners not seen: {HUB_CAP_OWNERS - found.keys()}"


@pytest.mark.parametrize(
    "snippet",
    [
        # llm_doc_fingerprint's private copy, before scale.drop_hot
        "def f(raw):\n    hot = (\n        raw.groupBy(\"h\")\n"
        "        .agg(F.count(F.lit(1)).alias(\"df\"))\n"
        "        .filter(F.col(\"df\") > MAX_GRAM_DF)\n    )\n",
        "def f(g):\n    return g.filter(dx.MAX_GRAM_DF <= F.col(\"df\"))\n",
        'Q = f"SELECT gram FROM grams GROUP BY gram HAVING count(*) > {MAX_GRAM_DF}"\n',
        'def q():\n    return f"""HAVING count(*)>={scale.MAX_GRAM_DF})"""\n',
    ],
)
def test_hub_cap_rule_catches_seeded_copy(snippet):
    assert hub_cap_findings(snippet, "seeded")


def test_hub_cap_rule_spares_other_uses():
    src = (
        '"""Docstring: grams with df > MAX_GRAM_DF are dropped."""\n'
        "MAX_GRAM_DF = 100\n"
        'A = f"the cap is {MAX_GRAM_DF}"\n'
        "B = F.lit(MAX_GRAM_DF)\n"
        "C = MAX_GRAM_DF == 100\n"
    )
    assert hub_cap_findings(src, "seeded") == {}

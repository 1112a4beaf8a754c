"""Degenerate-corpus robustness sweep: every operator over pathological
short inputs, BOTH engines, strict parity.

The r05 ADVICE items and the round-6 guard fixes were all one class:
an expression that is total on the shipped corpora but partial on a
REAL corpus — empty documents, 1-word documents, zero-length arrays —
where ANSI Spark throws (DIVIDE_BY_ZERO, INVALID_ARRAY_INDEX,
sequence() descent) while DuckDB silently NULLs.  Grepping for the
known patterns finds instances; this sweep finds the CLASS: it swaps
`documents` for a corpus that is nothing but degenerate shapes (empty
text, whitespace-only, single char, single word, zero-width unicode,
exact duplicates) and `embeddings` for a set containing the zero
vector, keeps every other sf0.001 table, and then runs the full
registry through the driver mirror's per-op check
(tests/strict_diff.check_op).

Verdict semantics:
  CRASH on either engine        -> fail (latent-partial expression)
  hash mismatch (both ran)      -> fail (short-input parity divergence)
  rows-only op, Spark ran       -> pass (same contract as the driver)

NaN cells are expected for some vector ops here (zero-vector cosine is
NaN on BOTH engines — the parity-safe behavior); strict_compare treats
NaN==NaN as equal, so those pass as long as the engines agree.

A second mode (--tiny) shrinks EVERY table to a referentially-intact
handful of rows (2 customers' orders, their lineitems, 6 events, 4
docs, 6 vectors) — the "first run on a new tiny dataset" class:
windows/ntiles over fewer rows than buckets, aggregates over empty
groups, k-means/PQ/HNSW with fewer points than centroids/codes/links.

A third mode (--unicode) swaps `documents` for a corpus of multi-byte
shapes — emoji (incl. multi-codepoint ZWJ sequences), CJK, combining
diacritics, RTL scripts, astral-plane (surrogate-pair) chars, full-width
forms — the class where byte-counting, UTF-16 code-unit counting, and
codepoint counting diverge, and where the two regex engines (Java util
vs DuckDB's RE2) can disagree.  The shipped testdata is pure ASCII
(verified round 7), so this class can never driver-red; the sweep
guards the 100 TB-real-corpus claim instead.

A fifth mode (--nonfinite) injects NaN / +Inf / -Inf / -0.0 into
``events.value`` (real measurement feeds carry them: sensor glitches,
upstream 0/0).  The engine's ingest contract (tables.py
normalize_events_value) maps non-finite to NULL at the scan boundary —
SQL's missing-value machinery is the one representation both engines
treat identically — and the oracle's events view mirrors it
(oracle_diff.duck_connect), so this sweep verifies every value-consuming
op downstream of ingest.  Without the contract, 38 ops diverged
(Spark ANSI CAST_OVERFLOW on Inf·1e8 snap lanes, DuckDB stddev
"out of range" on Inf — probed round 8).

A seventh mode (--timewarp, promoted round 9 from
its standalone probe) stripes decades-out corrupt timestamps
into ``events.ts`` (pre-1970 negative epochs + 2099 futures) and
``orders.o_orderdate`` (1968).  The stripe is deliberately DENSE (one
in three events rows, one in eleven order dates) so the classes trigger
decisively; a real 100 TB feed carries such rows far more sparsely —
one per few hundred — but even ONE reproduces both hazards (round-8
isolation runs).  It exposed two operator classes before the
``valid_ts`` contract (tables.py): grid/spine generators materializing
a 150-year spine off ONE outlier row (task-OOM at cluster scale), and
watermark ops whose monotonic event-time state silently dropped every
honest row behind one far-future event (stream_dedup lost 47/210).
Full-registry fail=0 since the round-9 second wave.

An eighth mode (--magnitude, promoted round 10 from
its standalone probe; corpus rebuilt round 11 for the raised
bound) stripes FINITE but absurd magnitudes into ``events.value`` —
the unit-bug / mis-parsed-id shape the --nonfinite contract does not
catch.  44 ops crashed before the round-10 ingest-contract extension;
round 11 raised the void bound 1e12 → 9e15 (ADVICE r10: the old bound
wholesale-mismatched any legitimately-large graded value) so the
corpus now ALSO stripes surviving large values (±1e13, ±9e15 boundary
rows) to pin the exact-cents / 128-bit-accumulator lanes that make
them order-independent (tables.cents_sum / cents2_sum).  1e-300 is
deliberately kept by the contract (tiny rounds to 0 cents like 0.001
does) and rides along here to pin that.

A fifteenth mode (--skew, round 11 — VERDICT r10 item 2) manufactures
the three canonical hot keys of a 100 TB feed: one user owning 50% of
events, one lang owning 90% of documents, and a 30% near-duplicate /
exact-duplicate document+embedding cluster (one hot LSH bucket).
Parity gate here; the per-op WALL-TIME straggler catalog is
``--skew --solo`` (one fresh process per op, the bigdoc pattern).

A fourteenth mode (--mixdim, promoted round 10 from
its standalone probe) mixes 32- and 72-dim vectors into the 64-dim
embeddings table — the model-version-mix shape; the EMBED_DIM dimension
layer of the vector-validity contract excludes off-width vectors on
both engines (10 of 16 vector ops crashed before it).

Twelfth and thirteenth modes (round 10): --bigdoc splices ~130 KB and
~520 KB documents into the corpus (PARITY check of the bounded-prefix
signature contract; the straggler TIMING gate is
``--bigdoc --solo``), and --ctrlchars
stripes embedded newlines / CRLF / quotes / tabs / NUL bytes into
documents.text (serialization boundaries; src_text_lines' typed
ContractViolation fail-fast counts as a contracted pass).

An eleventh mode (--badjson, promoted round 10 from
its standalone probe) stripes real-feed JSON corruption into
``events.props`` (truncated objects, bare text, empty strings, null
literals, wrong types, duplicate keys).  4 ops failed before the
json_usable/try_parse_json guards — including the quarantine op
crashing on exactly the rows it exists to quarantine.

A tenth mode (--empty, promoted round 10 from its standalone probe)
writes events/documents/embeddings as 0-row parquet with the shipped
schemas — the day-one shape of every scheduled pipeline.  9 ops failed
before the round-10 wave (explicit read-back schemas, count_if for
match counters, 0-row short-circuits for driver-side sample/fit, a
TIMESTAMP relabel for the 0-row DATE dtype).

A ninth mode (--dupkeys, promoted round 10 from
its standalone probe) replays surrogate keys with differing
payloads (1/10 event_ids, 1/7 doc_ids, 1/8 vec_ids) — at-least-once
delivery / re-crawl / re-embed.  14 ops failed before the
deterministic-per-key-winner contract (tables.winner_document /
winner_embedding / latest_event), two of them SILENT wrong answers
(Jaccard 1.878, containment 2.0 — values the metrics can never take).

A sixth mode (--nulls, promoted round 9 from its standalone probe)
stripes NULLs into every nullable non-key column — the shape a real
100 TB feed always carries.  It found 45 divergent/crashing ops in
round 8 (catalog: R09_NULLS_PLAN.md); the round-9 class fixes (NULL
vectors excluded from similarity semantics, NULL-text writer/digest
contracts, NULLS LAST window pins, None-total UDF bodies) brought it
to fail=0 and this mode keeps them pinned.

Two layout modes keep the base rows and change only their physical
order: --permuted writes every base table in a fixed random row order,
--wide does the same and cuts each file into 64 row groups (both through
perfbench's seeded generator).  A many-row-group corpus splits only when
the split size is below its file sizes, and Spark's minimum split (4 MB)
is larger than every test-scale file, so on such a corpus (--wide, or
--sf on one) the run lowers ``spark.sql.files.maxPartitionBytes`` to its
largest file / defaultParallelism.  Its SESSION line reports lineitem's
scan partitions, and the run aborts when they are fewer than
defaultParallelism: a wide run that scans in one task tests nothing.

Every corpus comes from tests/corpora.py, which the tests share.

Usage:
    python tools/sweep_degenerate.py            # all operators
    python tools/sweep_degenerate.py llm_bm25_rank ...   # subset
    python tools/sweep_degenerate.py --tiny [ops...]     # tiny tables
    python tools/sweep_degenerate.py --unicode [ops...]  # multi-byte corpus
    python tools/sweep_degenerate.py --ties [ops...]     # tie-stress corpus
    python tools/sweep_degenerate.py --nonfinite [ops...] # NaN/Inf measures
    python tools/sweep_degenerate.py --nulls [ops...]    # NULL-bulk corpus
    python tools/sweep_degenerate.py --timewarp [ops...] # decades-out ts
    python tools/sweep_degenerate.py --magnitude [ops...] # absurd |value|
    python tools/sweep_degenerate.py --dupkeys [ops...]  # replayed keys
    python tools/sweep_degenerate.py --orphans [ops...]  # dangling FKs
    python tools/sweep_degenerate.py --empty [ops...]    # zero-row tables
    python tools/sweep_degenerate.py --badjson [ops...]  # malformed props
    python tools/sweep_degenerate.py --skew [ops...]      # hot-key corpus
    python tools/sweep_degenerate.py --bigdoc [ops...]   # 130/520 KB docs
    python tools/sweep_degenerate.py --ctrlchars [ops...] # control chars
    python tools/sweep_degenerate.py --mixdim [ops...]   # 32/72-dim vectors
    python tools/sweep_degenerate.py --wide [ops...]     # 64 row groups a file
    python tools/sweep_degenerate.py --permuted [ops...] # permuted row order

    # strict mirror on an existing corpus directory instead of a built one;
    # on the shipped sf0.01 corpus this is the grading driver's mirror
    python tools/sweep_degenerate.py --sf SF_DIR [ops...]
    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01 > out

    # one fresh process per op, timed, hard limit (default 120 s); takes
    # any one mode or --sf
    python tools/sweep_degenerate.py --bigdoc --solo [--timeout S] [ops...]
    python tools/sweep_degenerate.py --sf SF_DIR --solo [ops...]

A run first prints its session's partitioning (``SESSION …``, with
lineitem's scan partitions) and the driver's t1 smoke line (``SMOKE
rows=…``, from ``__spark_entry__.entry``).  Each op then prints one
verdict line (OK / ROWS_ONLY / CONTRACT / FAIL) with ``rows=`` and
``spark_s=``; ``--solo`` appends the child's ``wall_s=`` or prints
TIMEOUT.  Exit status is 1 on any FAIL, TIMEOUT, empty smoke or wide
corpus that does not split.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.corpora import MODES, scan_partitions  # noqa: E402


def _select(only: set[str]) -> dict:
    """The registered ops named in ``only`` (all of them when empty)."""
    from un_datapipeline_spark.registry import all_operators

    ops = all_operators()
    unknown = only - set(ops)
    if unknown:
        # A zero-op sweep exits 0 and looks green — a typo'd op name (or
        # a mistyped --flag falling through to the name filter) must be
        # loud, not silently vacuous (round-8 review catch).
        raise SystemExit(f"unknown operator name(s) in filter: {sorted(unknown)}")
    return {n: op for n, op in ops.items() if not only or n in only}


def run_registry(d: str, only: set[str]):
    """Run every registered op (or the ``only`` subset) on the corpus at
    ``d`` through ``strict_diff.check_op`` in a plain ``local[8]``
    session — the grading driver's — printing the driver's t1 smoke line
    and then one verdict line per op with its row counts and Spark time;
    returns (n_ok, n_rows_only, fails).  The one harness loop: every
    corpus mode, ``--sf`` (the driver mirror) and each ``--solo`` child
    run it, so parity and timing never come from a forked copy that
    drifts.  Launcher confs (``PYSPARK_SUBMIT_ARGS``) reach the session,
    which is how the partition-order stress run varies its layout."""
    from pyspark.sql import SparkSession

    import __spark_entry__
    from tests.oracle_diff import duck_connect
    from tests.strict_diff import check_op
    from un_datapipeline_spark.session import release_scratch

    ops = _select(only)
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("degen-sweep")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc, conf = spark.sparkContext, spark.conf
    sc.setLogLevel("ERROR")
    scans = scan_partitions(spark, d)
    print(
        f"SESSION master={sc.master} default_parallelism={sc.defaultParallelism} "
        f"shuffle_partitions={conf.get('spark.sql.shuffle.partitions')} "
        f"max_partition_bytes={conf.get('spark.sql.files.maxPartitionBytes')} "
        f"lineitem_scan_partitions={scans}",
        flush=True,
    )
    smoke = __spark_entry__.entry(spark)
    rows = smoke.collect()
    print(f"SMOKE rows={len(rows)} schema={smoke.columns}", flush=True)
    fails: list[str] = [] if rows else ["<smoke>"]
    con = duck_connect(d)
    n_ok = n_ro = 0
    for i, (name, op) in enumerate(ops.items(), 1):
        verdict, detail, *_ = check_op(spark, con, op, d)
        print(f"{verdict} {name}: {detail}", flush=True)
        n_ok += verdict == "OK"
        n_ro += verdict in ("ROWS_ONLY", "CONTRACT")
        if verdict == "FAIL":
            fails.append(name)
        # The op's result is consumed (toPandas), so its scratch and its
        # persisted blocks can go: a registry pass in one JVM otherwise
        # piles up every op's checkpoint blocks, which starved a late op
        # of execution memory at sf0.1 (UNABLE_TO_ACQUIRE_MEMORY).  Dead
        # BROADCAST blocks are freed only once ContextCleaner sees their
        # weak refs die after a JVM GC, and Spark's periodic GC fires
        # every 30 min, so force one every 10 ops.
        release_scratch(spark)
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        if i % 10 == 0:
            sc._jvm.System.gc()
    print(f"TOTAL ok={n_ok} rows_only={n_ro} fail={len(fails)} {fails}")
    spark.stop()
    return n_ok, n_ro, fails


_VERDICTS = ("OK ", "ROWS_ONLY ", "CONTRACT ", "FAIL ")


def run_solo(d: str, only: set[str], timeout: int) -> list[str]:
    """Run each op of ``only`` (every registered op when empty) in its
    own fresh process — ``sweep_degenerate.py --sf d <op>`` — under a
    hard wall-clock limit, so one hang or a long-JVM inflation cannot
    poison the next measurement.  Prints the child's verdict line plus
    its wall time (JVM start included), or TIMEOUT; returns the ops that
    failed or timed out."""
    bad_ops: list[str] = []
    for name in _select(only):
        t0 = time.perf_counter()
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--sf", d, name],
                capture_output=True,
                text=True,
                timeout=timeout,
                cwd=REPO,
            )
            lines = [ln for ln in r.stdout.splitlines() if ln.startswith(_VERDICTS)]
            verdict = lines[-1] if lines else (
                f"FAIL {name}: child rc={r.returncode} "
                + (r.stderr.strip().splitlines() or ["?"])[-1][:160]
            )
        except subprocess.TimeoutExpired:
            verdict = f"TIMEOUT {name}: >{timeout}s"
        print(f"{verdict} wall_s={time.perf_counter() - t0:.1f}", flush=True)
        if verdict.startswith(("FAIL ", "TIMEOUT ")):
            bad_ops.append(name)
    print(f"SOLO TOTAL fail_or_timeout={len(bad_ops)} {bad_ops}")
    return bad_ops


class Args(NamedTuple):
    build: Callable[[str], None] | None  # corpus builder; None with --sf
    sf: str | None  # existing corpus directory (--sf)
    solo: bool
    timeout: int
    only: set[str]


def parse_args(argv: list[str]) -> Args:
    """Parse the command line without running anything; every misuse
    aborts loudly, because a run that silently selects zero ops or the
    wrong corpus prints a green TOTAL for a gate that never executed."""
    args = list(argv)
    values = {}
    for opt in ("--sf", "--timeout"):
        if opt in args:
            i = args.index(opt)
            if i + 1 == len(args):
                raise SystemExit(f"{opt} needs a value")
            values[opt] = args[i + 1]
            del args[i : i + 2]
    solo = "--solo" in args
    args = [a for a in args if a != "--solo"]
    unknown = [a for a in args if a.startswith("--") and a not in MODES]
    if unknown:
        # A mistyped flag must not fall through to the op-name filter,
        # where it would select zero ops and exit 0 (round-8 review).
        modes = [m for m in MODES if m]
        raise SystemExit(
            f"unknown flag(s) {unknown}; modes: {modes}; "
            "options: --sf DIR, --solo, --timeout S"
        )
    picked = [a for a in args if a in MODES]
    if len(picked) > 1:
        # Modes are mutually exclusive (one corpus per run) — a combined
        # invocation would silently run only one mode's corpus (round-9
        # review: the same zero-op-looks-green class as above).
        raise SystemExit(f"mode flags are mutually exclusive, got {picked}")
    if "--sf" in values and picked:
        raise SystemExit(f"--sf runs an existing corpus; it cannot take mode {picked[0]}")
    if "--timeout" in values and not solo:
        raise SystemExit("--timeout applies only to --solo runs")
    try:
        timeout = int(values.get("--timeout", 120))
    except ValueError:
        raise SystemExit(f"--timeout needs whole seconds, got {values['--timeout']!r}")
    return Args(
        build=None if "--sf" in values else MODES[picked[0] if picked else None],
        sf=values.get("--sf"),
        solo=solo,
        timeout=timeout,
        only={a for a in args if a not in MODES},
    )


def main() -> int:
    a = parse_args(sys.argv[1:])
    d = a.sf or tempfile.mkdtemp(prefix="degen_")
    try:
        if a.build:
            a.build(d)
        if a.solo:
            return 1 if run_solo(d, a.only, a.timeout) else 0
        _, _, fails = run_registry(d, a.only)
        return 1 if fails else 0
    finally:
        if not a.sf:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

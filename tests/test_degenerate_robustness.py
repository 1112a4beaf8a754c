"""Fast regressions for the round-6 degenerate-input hazard classes.

tools/sweep_degenerate.py (and --tiny) run the FULL registry on
pathological corpora once per round (~20 min each); this file pins a
representative op per fixed failure class so a regression shows up in
the ordinary pytest loop.  See ROUND_NOTES.md round-6 for the catalog.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _tool():
    spec = importlib.util.spec_from_file_location(
        "sweep_degenerate", REPO / "tools" / "sweep_degenerate.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("sweep_degenerate", mod)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def tiny_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("tinysf")
    _tool().build_tiny_dataset(str(d))
    return str(d)


@pytest.fixture(scope="module")
def degen_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("degensf")
    _tool().build_dataset(str(d))
    return str(d)


@pytest.fixture(scope="module")
def both(spark):
    """``both(sf, name)``: run op ``name`` and its oracle on the corpus at
    ``sf`` through the strict per-op check (tests/strict_diff.check_op),
    passing on OK or ROWS_ONLY only — a CONTRACT fail-fast or a crash
    fails the test.  One DuckDB connection per corpus dir, closed at
    module teardown."""
    from tests.oracle_diff import duck_connect
    from tests.strict_diff import check_op
    from un_datapipeline_spark.registry import all_operators

    ops = all_operators()
    cons = {}

    def run(sf, name):
        if sf not in cons:
            cons[sf] = duck_connect(sf)
        res = check_op(spark, cons[sf], ops[name], sf)
        assert res.verdict in ("OK", "ROWS_ONLY"), f"{name}: {res.verdict} {res.detail}"

    yield run
    for con in cons.values():
        con.close()


# one representative per fixed class (the full sweeps cover the rest)
TINY_OPS = [
    "agg_stats",             # undefined sample stats of a 1-row group
    "agg_linear_regression", # 1-day series OLS
    "reshape_transpose",     # missing flag value -> fixed (a,n,r) schema
    "ts_lttb_downsample",    # n <= K labeling parity
    "etl_compact_files",     # logical-partition-count contract
]

DEGEN_OPS = [
    "llm_quality_score",     # empty text + order-immune snapped averages
    "mm_frame_sample",       # byte-vs-codepoint hex lane
    "llm_simsearch_cosine_topk",  # zero-norm exclusion, both engines
    "llm_dedup_fuzzy_edit",  # two-empty-docs max_len guard
]


@pytest.mark.parametrize("name", TINY_OPS)
def test_tiny_tables_class(both, tiny_sf, name):
    both(tiny_sf, name)


@pytest.mark.parametrize("name", DEGEN_OPS)
def test_degenerate_corpus_class(both, degen_sf, name):
    both(degen_sf, name)


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("unisf")
    _tool().build_unicode_dataset(str(d))
    return str(d)


# one representative per round-7 --unicode class
UNICODE_OPS = [
    "fn_mask_redact",        # Java char classes vs RE2 \p{Lu}/\p{Ll}/\p{Nd}
    "llm_token_count_bpe",   # codepoint counting + ASCII regex classes
    "mm_frame_sample",       # multi-byte payload byte tiling (hex lane)
]


@pytest.fixture(scope="module")
def ties_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiessf")
    _tool().build_ties_dataset(str(d))
    return str(d)


# one representative per round-7 --ties class
TIES_OPS = [
    "llm_knn_join",              # tie-arbitrary argpartition in partial top-k
    "llm_hard_negatives",        # same class, label-masked kernel copy
    "stream_session_dynamic_gap",  # session boundary inclusive, oracle said >=
    "ts_cross_correlation_lagged",  # zero-variance series ANSI DIVIDE_BY_ZERO
]


@pytest.mark.parametrize("name", TIES_OPS)
def test_ties_corpus_class(both, ties_sf, name):
    """Round-7 hazard class: tied values at ranking boundaries.  Exact-
    duplicate vectors give bitwise-equal similarities, so a partial
    top-k that selects ties arbitrarily (argpartition) can drop the
    candidate the global (sim DESC, nn_id) order would keep; grid-
    aligned timestamps land events exactly on session ends, where
    Spark's session_window is INCLUSIVE; a ties-collapsed series has
    zero variance, where Pearson r must be NULL on both engines."""
    both(ties_sf, name)


@pytest.fixture(scope="module")
def nonfinite_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("nonfinsf")
    _tool().build_nonfinite_dataset(str(d))
    return str(d)


# one representative per round-8 --nonfinite class
NONFINITE_OPS = [
    "agg_mann_whitney",       # NULL measurement group: NULLS FIRST (Spark)
    #                           vs NULLS LAST (DuckDB) in the rank window
    "agg_trimmed_winsorized", # same NULL-rank class shifting tail cuts
    "ts_hampel_outliers",     # collect_list skips NULLs vs list() keeps
    "ts_lttb_downsample",     # all-NULL day: NULL point vs NaN→INT64_MIN
    "ts_anomaly_zscore",      # pre-contract CAST_OVERFLOW class (Inf·1e8)
]


@pytest.mark.parametrize("name", NONFINITE_OPS)
def test_nonfinite_corpus_class(both, nonfinite_sf, name):
    """Round-8 hazard class: non-finite measurements.  The ingest
    contract (tables.normalize_events_value) maps NaN/±Inf → NULL at
    the scan boundary — without it 38 ops diverged (ANSI CAST_OVERFLOW
    on Inf·1e8 snap lanes, DuckDB stddev out-of-range) — and the
    rank/CDF/trim/rolling/series statistics additionally DROP missing
    measurements on both engines, because NULL ordering and NULL-list
    semantics differ between them."""
    both(nonfinite_sf, name)


@pytest.fixture(scope="module")
def nulls_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullssf")
    _tool().build_nulls_dataset(str(d))
    return str(d)


# one representative per round-9 --nulls class (R09_NULLS_PLAN.md)
NULLS_OPS = [
    "llm_simsearch_cosine_topk",  # class 1: NULL / NULL-element vectors
    #                               excluded from similarity semantics
    #                               (filter + oracle predicate + kernel)
    "llm_vector_norms",       # class 1b: element-NULL → NULL stats lane
    #                           (Spark aggregate propagates, DuckDB list
    #                           aggregate skips — CASE mirror in oracle)
    "etl_table_fingerprint",  # class 2: coalesce-to-NUL-sentinel keeps
    #                           (a,NULL,c) distinct from (a,c,NULL)
    "src_text_lines",         # class 2: a NULL doc has no line (writer
    #                           would emit an ambiguous empty line)
    "win_percent_rank_cume",  # class 3: NULLS LAST pinned on both sides
    "win_moving_median",      # class 3: all-NULL frame → empty array →
    #                           INVALID_INDEX_OF_ZERO without the guard
    "fn_map",                 # class 4: NULL map key is illegal in Spark
    #                           — coalesce(lang,'<null>') on both sides
    "udf_python_scalar",      # class 4: None-total plain-UDF body
]


@pytest.mark.parametrize("name", NULLS_OPS)
def test_nulls_corpus_class(both, nulls_sf, name):
    """Round-9 hazard class: bulk NULLs in every nullable non-key column
    — the shape a real 100 TB feed always carries.  45/351 ops crashed
    or diverged on it before the class fixes (R09_NULLS_PLAN.md): numpy
    kernels crash on ragged arrays from NULL vectors, text writers crash
    on None payloads, DuckDB concat/list aggregates skip NULLs where
    Spark propagates them, and window rank keys order NULLS FIRST in
    Spark vs NULLS LAST in DuckDB."""
    both(nulls_sf, name)


def test_fingerprint_sentinel_disambiguates_null_position(spark, tmp_path):
    """Value-level pin of the class-2 serialization contract: two rows
    identical except for WHICH field is NULL must fingerprint
    differently.  Raw concat_ws would skip the NULL argument and
    serialize (a,NULL,c) and (a,c,NULL) to the same bytes."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from un_datapipeline_spark.registry import all_operators

    base = Path("/root/testdata/sf0.001")
    schema = pq.read_schema(base / "documents.parquet")

    def fingerprint(lang, source):
        d = tmp_path / f"fp_{lang or 'N'}_{source or 'N'}"
        d.mkdir()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events embeddings"
        ).split():
            (d / f"{t}.parquet").write_bytes((base / f"{t}.parquet").read_bytes())
        frame = pd.DataFrame(
            [{"doc_id": 0, "text": "same", "lang": lang, "source": source,
              "n_chars": 4}]
        )
        pq.write_table(
            pa.Table.from_pandas(frame, schema=schema, preserve_index=False),
            d / "documents.parquet",
        )
        op = all_operators()["etl_table_fingerprint"]
        return op.fn(spark, str(d)).collect()[0].bucket_digest

    assert fingerprint("web", None) != fingerprint(None, "web")


def test_ingest_contract_nonfinite_to_null(spark, tmp_path):
    """Value-level pin of the ingest contract: load_table maps NaN and
    ±Inf in events.value to NULL while passing every finite double
    through bit-identically (including -0.0), and the oracle harness's
    events view applies the same rule."""
    import math

    from tests.oracle_diff import duck_connect
    from un_datapipeline_spark.tables import load_table

    base = Path("/root/testdata/sf0.001")
    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        (d / f"{t}.parquet").write_bytes((base / f"{t}.parquet").read_bytes())
    import pyarrow as pa
    import pyarrow.compute as pc  # pa.compute is NOT lazily exposed (ADVICE r08)
    import pyarrow.parquet as pq

    # Rebuild value via pa.array on a python list, NOT pandas:
    # Table.from_pandas writes float NaN as parquet NULL, which would
    # make the NaN assertion below pin NULL-stays-NULL instead of the
    # contract's headline NaN→NULL case (round-8 review catch).
    tbl = pq.read_table(base / "events.parquet").slice(0, 6)
    idx = tbl.schema.get_field_index("value")
    arr = pa.array(
        [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.25],
        type=tbl.schema.field("value").type,
    )
    tbl = tbl.set_column(idx, tbl.schema.field("value"), arr)
    assert pc.sum(pc.is_nan(tbl.column("value"))).as_py() == 1
    pq.write_table(tbl, str(d / "events.parquet"))

    got = [
        r.value
        for r in load_table(spark, str(d), "events")
        .orderBy("event_id")
        .select("value")
        .collect()
    ]
    assert got[:3] == [None, None, None]
    assert got[3] == 0.0 and math.copysign(1.0, got[3]) == -1.0  # -0.0 intact
    assert got[4] == 0.0 and math.copysign(1.0, got[4]) == 1.0
    assert got[5] == 1.25

    con = duck_connect(str(d))
    duck = [
        v
        for (v,) in con.execute(
            "SELECT value FROM events ORDER BY event_id"
        ).fetchall()
    ]
    con.close()
    assert duck[:3] == [None, None, None]
    assert duck[3] == 0.0 and math.copysign(1.0, duck[3]) == -1.0
    assert duck[4:] == [0.0, 1.25]


def test_session_window_boundary_is_inclusive(spark):
    """Value-level pin of the empirical session_window semantics: an
    event at EXACTLY last_ts + gap extends the session; 1 µs past it
    starts a new one.  The dynamic-gap oracle's strict > depends on
    this staying true across Spark upgrades."""
    import datetime as dt

    import pyspark.sql.functions as F

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, t0), (1, t0 + dt.timedelta(minutes=5)),
            (2, t0), (2, t0 + dt.timedelta(minutes=5, microseconds=1)),
        ],
        "user_id int, ts timestamp",
    )
    out = (
        df.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r.user_id: r["count"] for r in out}
    assert sessions == {1: 1, 2: 2}


@pytest.mark.parametrize("name", UNICODE_OPS)
def test_unicode_corpus_class(both, unicode_sf, name):
    """Round-7 hazard class: Spark masks/measures by UNICODE character
    semantics (Character.isLowerCase, codepoint length) while an
    ASCII-class oracle silently diverges on any non-ASCII letter —
    fn_mask_redact masked 'é' as 'x' where the old '[a-z]' oracle left
    it bare.  Oracles now use RE2 unicode categories; this pins the
    class on the multi-byte corpus."""
    both(unicode_sf, name)


def test_mask_redact_unicode_semantics(spark, tmp_path):
    """Value-level pin: unicode uppercase/lowercase/digit all mask, the
    contributory-set chars (ª º — Lo, not Ll) stay unmasked on BOTH
    engines, and the n_digits column deliberately stays an ASCII [0-9]
    count.  NOT pinned here: supplementary-plane cased letters — Spark's
    mask() sees them as two uncased surrogates (BMP-only contract,
    documented at _MASK_ORACLE), so they are a true divergence vs the
    codepoint-based oracle and are excluded from every mask corpus."""
    import duckdb
    import pandas as pd

    text = "café İı ٣ 7 ªº"  # café İı ٣ 7 ªº
    docs = pd.DataFrame(
        {
            "doc_id": [0],
            "text": [text],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [len(text)],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    from un_datapipeline_spark.operators.functions import (
        _MASK_ORACLE,
        fn_mask_redact,
    )

    row = fn_mask_redact(spark, str(tmp_path)).collect()[0]
    assert row.masked_head == "xxxx Xx n n ªº"
    assert row.n_digits == 1  # ASCII digits only: just the '7'

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    orc = con.execute(_MASK_ORACLE).fetchone()
    assert (row.masked_head, row.n_digits) == (orc[1], orc[2])


def test_minhash_ml_survives_short_docs(both, degen_sf):
    """The optimizer-re-evaluation class: approxSimilarityJoin re-plans
    its input subtree, so the shingle expression must be TOTAL and the
    filtered table frozen — a plain upstream filter regressed here."""
    both(degen_sf, "llm_dedup_minhash_ml")


def test_vector_norms_empty_and_null_embeddings(spark, tmp_path):
    """Vector-validity contract over the per-row STATS op: an invalid
    embedding (NULL, empty, or off-EMBED_DIM — the round-10 dimension
    layer subsumed the round-6 empty-list special case) contributes
    NULL to the value lanes on BOTH engines while still counting in
    n / min_dim / max_dim (dimension stats OBSERVE the corruption).  A
    full-width vector in the same group proves valid rows still average
    normally.  No shipped corpus has these shapes, so this fixture
    exists to exercise the guards."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.strict_diff import strict_compare
    from un_datapipeline_spark.operators.llm_vectors import (
        _NORMS_ORACLE,
        EMBED_DIM,
        llm_vector_norms,
    )

    full = [3.0, 4.0] + [0.0] * (EMBED_DIM - 2)  # valid, l2 = 5
    em = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[], full, None, [1.0, 1.0]],
            "label": [0, 0, 0, 1],
        }
    )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(em, schema=schema), tmp_path / "embeddings.parquet"
    )
    sf = str(tmp_path)

    import duckdb

    sp = llm_vector_norms(spark, sf).toPandas()
    con = duckdb.connect()  # only embeddings exists in this fixture dir
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    oc = con.execute(_NORMS_ORACLE).df()
    con.close()
    assert not strict_compare(sp, oc)
    r0 = sp[sp["label"] == 0].iloc[0]
    # label 0 = {empty -> NULL lane, 64-wide [3,4,0..] -> l2 5, NULL ->
    # dropped}: avg 5.0; min_dim still observes the empty row's 0
    assert float(r0["avg_l2"]) == 5.0 and int(r0["min_dim"]) == 0
    # label 1 = the off-width [1,1]: value lane NULL on both engines
    r1 = sp[sp["label"] == 1].iloc[0]
    assert pd.isna(r1["avg_l2"]) and int(r1["max_dim"]) == 2


@pytest.fixture(scope="module")
def timewarp_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("timewarpsf")
    _tool().build_timewarp_dataset(str(d))
    return str(d)


# one representative per timestamp-validity hazard class (tables.py
# valid_ts contract; corpus: sweep_degenerate.py --timewarp)
TIMEWARP_OPS = [
    "ts_resample_ffill",      # bounded-spine: one decades-out ts would
    #                           materialize a 150-year hourly grid (OOM
    #                           class) without the valid_ts bound
    "ts_interpolate_linear",  # same class, per-type spine
    "stream_dedup",           # watermark poisoning: one 2099 event
    #                           advanced the watermark past every honest
    #                           row (47/210 silently dropped pre-fix)
    "stream_stream_join",     # same class, both join legs' watermarks
    "ts_multires_rollup",     # control: pure bucket aggregation needs NO
    #                           contract — out-of-range rows just land in
    #                           out-of-range buckets on both engines
]


@pytest.mark.parametrize("name", TIMEWARP_OPS)
def test_timewarp_corpus_class(both, timewarp_sf, name):
    """Round-9 second-wave hazard class: decades-out corrupt timestamps
    (pre-1970 negative epochs + far-future 2099).  The corpus stripes
    them densely (1/3 of events rows) to trigger decisively; a real
    100 TB feed carries them sparsely, but ONE row suffices.  Two operator
    classes are exposed: RANGE-MATERIALIZING ops (grid/spine generators
    explode off one outlier) and WATERMARK ops (monotonic event-time
    state silently drops every honest row).  The valid_ts contract
    (tables.py) bounds both, mirrored verbatim in each paired oracle."""
    both(timewarp_sf, name)


def test_valid_ts_window_not_decayed():
    """Renewal tripwire (ADVICE r09): VALID_TS_HI is a FIXED wall-clock
    bound (determinism requires one), so it silently decays — events
    legitimately stamped past it would be dropped as corruption by the
    four guarded operators.  This test fails once the wall clock comes
    within two years of the bound, forcing a renewal before the window
    can clip real data."""
    import datetime as dt

    from un_datapipeline_spark.tables import VALID_TS_HI

    hi = dt.datetime.fromisoformat(VALID_TS_HI.split(".")[0])
    assert dt.datetime.now() < hi - dt.timedelta(days=730), (
        f"VALID_TS_HI ({VALID_TS_HI}) is less than two years out — renew "
        "the validity window (tables.py) and re-stamp the four valid_ts "
        "operators"
    )


@pytest.fixture(scope="module")
def magnitude_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("magsf")
    _tool().build_magnitude_dataset(str(d))
    return str(d)


# one representative per round-10 --magnitude mechanism
# (R10_MAGNITUDE_PLAN.md; corpus: sweep_degenerate.py --magnitude)
MAGNITUDE_OPS = [
    "ts_lttb_downsample",       # exact-cents CAST(round(value*100) AS
    #                             BIGINT) lane — int64 overflow at 1e18
    "win_match_recognize",      # ARITHMETIC_OVERFLOW variant of the same
    "stream_stateful_running",  # the streaming value path rides the same
    #                             normalize_events_value helper
    # round-12 magneg class (the unlucky-negative pair whose Σcents
    # mis-rounds under DuckDB's naked HUGEINT/DECIMAL→DOUBLE conversion;
    # each fired on the corpus before its VARCHAR round-trip landed):
    "ts_multires_rollup",       # Σ/100.0 output shape
    "win_sliding_range",        # windowed Σ / (100·n) + ill-defined
    #                             ROUND(,6) dropped
    "agg_ab_ttest",             # mean lane's ill-defined ROUND dropped
    # round-12 .5-ulp stripes (0.0049999999999999994 / -0.125):
    "udf_map_arrow",            # pyarrow pc.round half_to_even default
    "udf_grouped_map",          # shared cents_np half-away kernel
    # round-12 user-grain extension: the magneg pair now SHARES one
    # user_id (99980000), so per-user lanes see the unlucky Σcents too
    # — the full-registry sweep on the extended corpus was CLEAN (no
    # user-grain oracle converts a wide negative Σ without the VARCHAR
    # round-trip); this rep pins the per-user cumulative-cents window
    # crossing the pair:
    "win_running_sum",
]


@pytest.mark.parametrize("name", MAGNITUDE_OPS)
def test_magnitude_corpus_class(both, magnitude_sf, name):
    """Round-10 hazard class: FINITE but absurd-magnitude measurements
    (unit bug / mis-parsed id column — ±1e15, 1e18).  Before the ingest
    contract extension (abs(value) > 1e12 → NULL) 44 ops crashed: the
    exact-cents BIGINT lane overflows int64 at |value| > ~9.2e16, and
    1e15 absorbs every honest contribution below the double ulp even
    where both engines agree.  The corpus also stripes 1e-300, which the
    contract deliberately KEEPS (tiny rounds to 0 cents like 0.001)."""
    both(magnitude_sf, name)


@pytest.fixture(scope="module")
def mixdim_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("mixdimsf")
    _tool().build_mixdim_dataset(str(d))
    return str(d)


# one representative per --mixdim mechanism (sweep_degenerate.py)
MIXDIM_OPS = [
    "llm_simsearch_cosine_topk",  # matrix kernel: ragged lengths crashed
    #                               np.stack before the EMBED_DIM layer
    "llm_vector_norms",           # per-row stats: off-width value lanes
    #                               NULL, min_dim/max_dim observe 32/72
]


@pytest.mark.parametrize("name", MIXDIM_OPS)
def test_mixdim_corpus_class(both, mixdim_sf, name):
    """Round-10 hazard class: mixed embedding dimensions (model-version
    mix — a re-embed job lands 32- or 72-wide rows into the 64-wide
    table).  The dimension layer of the vector-validity contract
    (llm_vectors.EMBED_DIM) excludes off-width vectors on both
    engines."""
    both(mixdim_sf, name)


# the rows-only ANN family: no oracle, so the vector-validity contract is
# pinned against the exact kernel instead
ANN_OPS = [
    "llm_simsearch_ivf",
    "llm_simsearch_hnsw",
    "llm_simsearch_lsh",
    "llm_simsearch_multiprobe",
]


@pytest.mark.parametrize("corpus", ["degen_sf", "mixdim_sf"])
@pytest.mark.parametrize("name", ANN_OPS)
def test_ann_ops_follow_vector_contract(spark, request, corpus, name):
    """An approximate search answers a subset of the probes exact
    cosine_topk answers, never with a NaN sim: zero-norm (degenerate
    corpus; the zero vector is HNSW's graph entry point) and off-width
    (--mixdim) vectors are excluded from both.  On the degenerate corpus
    HNSW must also keep test_hnsw_recall_beats_ivf's 0.8 recall@1
    floor."""
    import math

    import pyspark.sql.functions as F

    from un_datapipeline_spark.operators.llm_vectors import cosine_topk
    from un_datapipeline_spark.registry import all_operators
    from un_datapipeline_spark.tables import load_table

    sf = request.getfixturevalue(corpus)
    em = load_table(spark, sf, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    exact = {
        r.a_id: r.nn_id
        for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    got = all_operators()[name].fn(spark, sf).collect()
    assert not [r for r in got if math.isnan(r.sim)], f"{name}: NaN sims"
    extra = {r.a_id for r in got} - set(exact)
    assert not extra, f"{name}: probes outside the contract {sorted(extra)[:5]}"
    if (name, corpus) == ("llm_simsearch_hnsw", "degen_sf"):
        recall = sum(r.nn_id == exact[r.a_id] for r in got) / len(exact)
        assert recall >= 0.8, f"HNSW recall@1 {recall} on the degenerate corpus"


@pytest.fixture(scope="module")
def ties_permuted_sfs(ties_sf, tmp_path_factory):
    """Copies of the --ties corpus whose embeddings.parquet rows are
    permuted (seeds 2 and 3)."""
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{ties_sf}/embeddings.parquet")
    dirs = []
    for seed in (2, 3):
        d = tmp_path_factory.mktemp(f"tiesperm{seed}")
        shutil.copytree(ties_sf, d, dirs_exist_ok=True)
        perm = np.random.RandomState(seed).permutation(t.num_rows)
        pq.write_table(t.take(perm), f"{d}/embeddings.parquet")
        dirs.append(str(d))
    return dirs


@pytest.mark.parametrize("name", ["llm_simsearch_ivf", "llm_simsearch_hnsw"])
def test_ann_ops_row_order_invariant(spark, ties_sf, ties_permuted_sfs, name):
    """Exact-duplicate vectors tie bitwise; the in-batch pick must break
    ties by id (probe_search's _topk_idx), not by the file's row order."""
    from un_datapipeline_spark.registry import all_operators

    fn = all_operators()[name].fn
    base = sorted(tuple(r) for r in fn(spark, ties_sf).collect())
    assert base
    for d in ties_permuted_sfs:
        assert sorted(tuple(r) for r in fn(spark, d).collect()) == base, d


@pytest.fixture(scope="module")
def bigdoc_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("bigdocsf")
    _tool().build_bigdoc_dataset(str(d))
    return str(d)


# one representative per round-10 --bigdoc mechanism (R10_BIGDOC_PLAN;
# the TIMING gate is sweep_degenerate.py --bigdoc --solo)
BIGDOC_OPS = [
    "llm_dedup_ngram_jaccard",   # capped gram signature + linear build
    "llm_dedup_fuzzy_edit",      # 4 KB edit-distance verify cap
    "llm_line_dedup_reconstruct",  # capped line grid, stride chunking
]


@pytest.mark.parametrize("name", BIGDOC_OPS)
def test_bigdoc_corpus_class(both, bigdoc_sf, name):
    """Round-10 hazard class: one oversized document (520 KB OCR dump /
    minified JS class).  The bounded-prefix signature contract
    (tables.SIG_PREFIX_CHARS, mirrored in each paired oracle) bounds
    every per-doc kernel, and the k-gram builders are LINEAR
    (dedup_extras.ngram_array) — the index-lambda formulation
    re-evaluated the split per element, O(len²) per doc, which was the
    real straggler mechanism."""
    both(bigdoc_sf, name)


@pytest.fixture(scope="module")
def ctrlchars_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("ctrlsf")
    _tool().build_ctrlchars_dataset(str(d))
    return str(d)


CTRLCHARS_OPS = [
    "src_text_wholetext",   # wholetext KWARG (the .option() form is
    #                         silently overwritten by text()'s defaults
    #                         → latent line-mode read, 23 rows from 20
    #                         files)
    "src_csv_multiline",    # oracle replays the wrap+flatten transform
]


@pytest.mark.parametrize("name", CTRLCHARS_OPS)
def test_ctrlchars_corpus_class(both, ctrlchars_sf, name):
    """Round-10 hazard class: control characters inside documents.text
    (embedded newlines, CRLF, quotes+commas, tabs, NUL).  Exposed a
    LATENT PySpark trap: reader options set via .option() before
    .text() are overwritten by the method's own kwarg defaults."""
    both(ctrlchars_sf, name)


def test_text_lines_contract_violation_is_typed(spark, ctrlchars_sf):
    """src_text_lines must fail FAST and TYPED on embedded newlines —
    a quiet line-split roundtrip would corrupt the corpus; the typed
    error is what lets the sweeps count the refusal as contracted."""
    from un_datapipeline_spark.registry import ContractViolation, all_operators

    with pytest.raises(ContractViolation):
        all_operators()["src_text_lines"].fn(spark, ctrlchars_sf).collect()


@pytest.fixture(scope="module")
def badjson_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("badjsonsf")
    _tool().build_badjson_dataset(str(d))
    return str(d)


# one representative per round-10 --badjson mechanism (R10_BADJSON_PLAN)
BADJSON_OPS = [
    "fn_json",                  # oracle json_valid CASE (DuckDB
    #                             json_extract throws where Spark NULLs)
    "fn_variant_json",          # try_parse_json ↔ json_usable mirror
    #                             incl. the dup-key rejection rule
    "etl_quarantine_bad_rows",  # malformed rows route INTO quarantine
    #                             on both engines
]


@pytest.mark.parametrize("name", BADJSON_OPS)
def test_badjson_corpus_class(both, badjson_sf, name):
    """Round-10 hazard class: malformed JSON payloads (truncated
    objects, bare text, wrong types, duplicate keys).  Spark's JSON
    surfaces NULL malformed input; the oracles mirror with
    json_valid/json_usable guards, and ambiguous duplicate-key objects
    (Spark keeps the LAST dup, DuckDB the FIRST) are rejected on both
    sides."""
    both(badjson_sf, name)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("emptysf")
    _tool().build_empty_dataset(str(d))
    return str(d)


# one representative per round-10 --empty class (R10_EMPTY_PLAN.md)
EMPTY_OPS = [
    "etl_backfill_partitions",  # class 1: read-back now passes the
    #                             writer's schema (no footer inference)
    "win_event_pattern",        # class 2: count_if — a match count is 0
    #                             on empty, not a NULL SUM of indicators
    "fn_json_schema_infer",     # class 3: no inferable sample → the
    #                             op's declared 0-row schema
    "llm_ann_brp_lsh",          # class 3: MLlib fit() short-circuited
    "ts_local_day_dst",         # class 4: DATE→TIMESTAMP relabel keeps
    #                             the dtype at 0 rows
]


@pytest.mark.parametrize("name", EMPTY_OPS)
def test_empty_corpus_class(both, empty_sf, name):
    """Round-10 hazard class: zero-row tables — the day-one shape of a
    scheduled pipeline (new partition/tenant, no data yet).  An empty
    write must still yield a queryable 0-row table; a count of matches
    is 0 over nothing; empty is a legitimate answer to an empty
    input."""
    both(empty_sf, name)


@pytest.fixture(scope="module")
def dupkeys_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("dupsf")
    _tool().build_dupkeys_dataset(str(d))
    return str(d)


# one representative per round-10 --dupkeys class (R10_DUPKEYS_PLAN.md)
DUPKEYS_OPS = [
    "src_text_wholetext",       # class 1: key-grained writer — second
    #                             payload under one id silently OVERWROTE
    "llm_dedup_ngram_jaccard",  # class 2: per-key gram sets unioned two
    #                             texts → Jaccard 1.878 (silent wrong)
    "llm_dedup_containment",    # class 2: containment 2.0 (silent wrong)
    "llm_filter_funnel",        # class 3: arbitrary-winner flag drift
    "join_asof",                # class 4: per-key grain vs row-grained
    #                             ASOF fanout (1000 vs 1100 rows)
]


@pytest.mark.parametrize("name", DUPKEYS_OPS)
def test_dupkeys_corpus_class(both, dupkeys_sf, name):
    """Round-10 hazard class: duplicate surrogate keys with differing
    payloads (at-least-once delivery / re-crawl / re-embed).  The
    deterministic per-key winner contract (tables.winner_document /
    winner_embedding / latest_event, mirrored in each paired oracle)
    restores one-logical-row-per-key semantics; before it, per-key set
    math emitted values a Jaccard can never take."""
    both(dupkeys_sf, name)


def test_jaccard_containment_stay_in_unit_range(spark, dupkeys_sf):
    """Value-level pin of the class-2 silent-wrong fix: on a corpus with
    re-crawled doc_ids, every emitted Jaccard and containment must stay
    inside [0, 1] — the probe measured 1.878 / 2.0 before the winner
    contract, an impossible similarity that would poison any dedup
    threshold downstream."""
    from un_datapipeline_spark.registry import all_operators

    ops = all_operators()
    jac = ops["llm_dedup_ngram_jaccard"].fn(spark, dupkeys_sf).toPandas()
    assert ((jac["jac"] >= 0) & (jac["jac"] <= 1)).all(), jac
    con = ops["llm_dedup_containment"].fn(spark, dupkeys_sf).toPandas()
    assert (
        (con["containment"] >= 0) & (con["containment"] <= 1)
    ).all(), con


_MIRROR_CASES = [
    pytest.param(corpus, winner, id=f"{'winner' if winner else 'raw'}-{corpus}")
    for winner in (True, False)
    for corpus in ("sf_smoke", "dupkeys_sf", "bigdoc_sf", "empty_sf")
]


@pytest.mark.parametrize("corpus, winner", _MIRROR_CASES)
def test_trigram_kernel_mirror(spark, request, monkeypatch, corpus, winner):
    """The gram-overlap family's trigram kernel (dedup_extras.
    doc_trigrams, then scale.drop_hot on the gram) and its DuckDB text
    (doc_trigrams_sql, drop_hot_grams_sql) give the same
    (doc_id, gram) set, before and after the document-frequency cap — at
    the shipped cap, which no corpus here reaches (max df 72), and then
    at a cap of 2, which every one but the empty corpus exceeds.  The
    kernel applies the per-key winner itself, so raw documents (what
    the ops pass) and an already-deduplicated source give the same set:
    on repeated doc_ids a gram counts once per doc_id on both engines.
    Every oracle gram has three parts, so its ``gram IS NOT NULL``
    filter drops nothing but the short-document NULL."""
    from tests.oracle_diff import duck_connect
    from un_datapipeline_spark import scale
    from un_datapipeline_spark.operators import dedup_extras as dx
    from un_datapipeline_spark.tables import load_table, winner_document

    sf = request.getfixturevalue(corpus)
    d = load_table(spark, sf, "documents")
    grams = dx.doc_trigrams(winner_document(d) if winner else d)
    con = duck_connect(sf)
    try:
        for cap in (scale.MAX_GRAM_DF, 2):
            monkeypatch.setattr(scale, "MAX_GRAM_DF", cap)
            ctes = (
                f"WITH grams AS ({dx.doc_trigrams_sql()}), "
                f"gf AS ({dx.drop_hot_grams_sql()}) "
            )
            for sp, rel in ((grams, "grams"), (scale.drop_hot(grams, ["gram"]), "gf")):
                got = {tuple(r) for r in sp.select("doc_id", "gram").collect()}
                want = set(con.execute(f"{ctes} SELECT doc_id, gram FROM {rel}").fetchall())
                assert got == want, (cap, rel, sorted(got ^ want)[:5])
        bad = con.execute(
            f"{ctes} SELECT count(*) FROM grams WHERE len(string_split(gram, ' ')) <> 3"
        ).fetchone()[0]
        assert bad == 0
    finally:
        con.close()


def test_ingest_contract_magnitude_to_null(spark, tmp_path):
    """Value-level pin of the magnitude ingest contract (round-10
    extension, bound raised 1e12 → 9e15 in round 11 per ADVICE r10):
    load_table maps |value| > 9e15 to NULL while passing sane and
    legitimately-large magnitudes through bit-identically — including
    the boundary 9e15 itself (kept: the rule is strictly-greater), a
    1e15 that the old bound wrongly voided, and 1e-300 (tiny is
    harmless) — and the oracle harness's events view applies the same
    rule."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_diff import duck_connect
    from un_datapipeline_spark.tables import load_table

    base = Path("/root/testdata/sf0.001")
    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        (d / f"{t}.parquet").write_bytes((base / f"{t}.parquet").read_bytes())
    tbl = pq.read_table(base / "events.parquet").slice(0, 6)
    idx = tbl.schema.get_field_index("value")
    arr = pa.array(
        [9.5e15, -9.5e15, 1e18, 9e15, 1e-300, 1e15],
        type=tbl.schema.field("value").type,
    )
    tbl = tbl.set_column(idx, tbl.schema.field("value"), arr)
    pq.write_table(tbl, str(d / "events.parquet"))

    got = [
        r.value
        for r in load_table(spark, str(d), "events")
        .orderBy("event_id")
        .select("value")
        .collect()
    ]
    assert got == [None, None, None, 9e15, 1e-300, 1e15]

    con = duck_connect(str(d))
    duck = [
        v
        for (v,) in con.execute(
            "SELECT value FROM events ORDER BY event_id"
        ).fetchall()
    ]
    con.close()
    assert duck == [None, None, None, 9e15, 1e-300, 1e15]


def test_props_fixtures_are_flat():
    """Tripwire for the documented json_usable_sql residual (ADVICE r10 /
    VERDICT r10 item 2): the DuckDB mirror checks key uniqueness at the
    TOP level only, while Spark's variant parser rejects duplicate keys
    at ANY depth — the two stay equivalent ONLY while no fixture ships
    nested-object props.  This test walks every parseable props payload
    in the shipped testdata scales AND the badjson sweep stripe; the
    moment one carries a nested object, it fails and json_usable_sql
    needs its recursive dup-key walk."""
    import json

    import duckdb

    def assert_flat(payloads, origin):
        for s in payloads:
            if s is None:
                continue
            try:
                obj = json.loads(s)
            except ValueError:
                continue  # malformed is fine — both engines reject it
            if isinstance(obj, dict):
                nested = [
                    k for k, v in obj.items() if isinstance(v, (dict, list))
                ]
                assert not nested, (
                    f"{origin}: props payload {s[:80]!r} carries nested "
                    f"container values {nested} — json_usable_sql's "
                    "top-level-only dup-key check no longer mirrors "
                    "Spark's variant parser; add the recursive walk "
                    "(tables.py json_usable_sql docstring)"
                )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"SELECT props FROM read_parquet('/root/testdata/{sf}/events.parquet')"
        ).fetchall()
        assert_flat((r[0] for r in rows), f"testdata/{sf}")

    import importlib.util as _ilu
    from pathlib import Path

    spec = _ilu.spec_from_file_location(
        "sweep_degenerate", Path(__file__).parent.parent / "tools" / "sweep_degenerate.py"
    )
    sw = _ilu.module_from_spec(spec)
    spec.loader.exec_module(sw)
    src = (Path(__file__).parent.parent / "tools" / "sweep_degenerate.py").read_text()
    import re as _re

    m = _re.search(r"bad = \[(.*?)\]", src, _re.S)
    assert m, "badjson stripe list moved — update this tripwire"
    stripe = [
        _s for _s in _re.findall(r"'((?:[^'\\]|\\.)*)'", m.group(1))
    ]
    assert_flat(stripe, "sweep badjson stripe")


@pytest.fixture(scope="module")
def orphans_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("orphanssf")
    _tool().build_orphans_dataset(str(d))
    return str(d)


# one representative per orphan-FK risk class the round-12 probe named
# (sweep_degenerate.py --orphans; full-registry catalog on the corpus was
# 329 ok + 22 rows-only, fail=0 — the class was already covered by the
# round-9 NULL contracts, this pins it in the suite)
ORPHAN_OPS = [
    "join_inner_equi",        # inner joins must DROP dangling keys
    #                           identically on both engines
    "join_left_outer",        # LEFT joins carry NULL dim columns into
    #                           downstream expressions (the round-9 NULL
    #                           classes arriving through a join, not the
    #                           scan)
    "etl_dq_validate",        # DQ counts must move identically when a
    #                           third of the fact table is dangling
    "agg_cohort_retention",   # percent-of-dim shape: denominators must
    #                           not silently assume the key domain
    "join_dpp_partitioned",   # partition-pruning join: a dangling key
    #                           must prune to nothing, not crash
]


@pytest.mark.parametrize("name", ORPHAN_OPS)
def test_orphans_corpus_class(both, orphans_sf, name):
    """Round-12 hazard class: dangling foreign keys (30% of
    events.user_id, 1/7 of lineitem.l_orderkey, 1/9 of orders.o_custkey
    point at rows that do not exist) — deleted accounts, GDPR erasure,
    partial ingestion.  Both engines read the same parquet, so joins
    drop or NULL-extend orphans identically; what this pins is that no
    operator ASSUMES referential integrity (broadcast spines built from
    the dim side, percent-of-dim denominators, digest lanes fed by
    LEFT-join NULLs)."""
    both(orphans_sf, name)


@pytest.fixture(scope="module")
def half_cents_sf(tmp_path_factory, sf_smoke):
    """sf0.001 with every price and discount an exact half cent.  x.125 and
    x.625 are 12.5 and 62.5 cents, where half-to-even and half-away-from-
    zero round apart; x.375 and x.875 round alike and ride along.  Every
    7th price and discount is NULL, return flag 'X' is priced only by
    NULLs, and so is the first customer's every order."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from un_datapipeline_spark.tables import TABLE_NAMES

    d = tmp_path_factory.mktemp("halfcentsf")
    for t in TABLE_NAMES:
        shutil.copy(f"{sf_smoke}/{t}.parquet", d / f"{t}.parquet")

    def halves(n: int, nulls: list[bool]) -> pa.Array:
        return pa.array(
            [None if z else (i % 997) + (0.125, 0.375, 0.625, 0.875)[i % 4]
             for i, z in enumerate(nulls)],
            type=pa.float64(),
        )

    li = pq.read_table(d / "lineitem.parquet")
    n = li.num_rows
    flag_x = [i % 50 == 3 for i in range(n)]
    price_null = [i % 7 == 0 or x for i, x in enumerate(flag_x)]
    discounts = pa.array(
        [None if i % 7 == 1 else (0.125, 0.625, 0.375)[i % 3] for i in range(n)],
        type=pa.float64(),
    )
    flags = [("X" if x else f) for x, f in zip(flag_x, li["l_returnflag"].to_pylist())]
    for col, arr in (
        ("l_extendedprice", halves(n, price_null)),
        ("l_discount", discounts),
        ("l_returnflag", pa.array(flags, type=pa.string())),
    ):
        li = li.set_column(li.schema.get_field_index(col), col, arr)
    pq.write_table(li, d / "lineitem.parquet")

    o = pq.read_table(d / "orders.parquet")
    cust = o["o_custkey"].to_pylist()
    nulls = [i % 7 == 0 or c == cust[0] for i, c in enumerate(cust)]
    o = o.set_column(
        o.schema.get_field_index("o_totalprice"), "o_totalprice", halves(o.num_rows, nulls)
    )
    pq.write_table(o, d / "orders.parquet")
    return str(d)


# The three Python cents lanes: each once rounded half to even (pyarrow's
# default pc.round, pandas .round(), builtin round) against the format's
# half away from zero (tables.cents_np / cents_col, DuckDB round).
HALF_CENT_OPS = ["udf_grouped_arrow", "udf_pandas_iter", "udtf_table_arg"]


@pytest.mark.parametrize("name", HALF_CENT_OPS)
def test_half_cent_prices_round_half_away(both, half_cents_sf, name):
    both(half_cents_sf, name)

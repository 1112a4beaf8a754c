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

    # strict mirror on an existing corpus directory instead of a built one;
    # on the shipped sf0.01 corpus this is the grading driver's mirror
    python tools/sweep_degenerate.py --sf SF_DIR [ops...]
    python tools/sweep_degenerate.py --sf /root/testdata/sf0.01 > out

    # one fresh process per op, timed, hard limit (default 120 s); takes
    # any one mode or --sf
    python tools/sweep_degenerate.py --bigdoc --solo [--timeout S] [ops...]
    python tools/sweep_degenerate.py --sf SF_DIR --solo [ops...]

A run first prints its session's partitioning (``SESSION …``) and the
driver's t1 smoke line (``SMOKE rows=…``, from ``__spark_entry__.entry``).  Each op then prints one verdict line (OK /
ROWS_ONLY / CONTRACT / FAIL) with ``rows=`` and ``spark_s=``; ``--solo``
appends the child's ``wall_s=`` or prints TIMEOUT.  Exit status is 1 on
any FAIL, TIMEOUT or empty smoke.
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

import numpy as np
import pandas as pd

# same env override convention as tests/conftest.py's SF_SMOKE
BASE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")

# A corpus of nothing but edge shapes; a few multi-word docs remain so
# profile/threshold ops (lang-id, quality bands, k-means) have material.
_DOCS = [
    "",                      # empty — the DIVIDE_BY_ZERO class
    " ",                     # whitespace-only: split(' ') -> ['', '']
    "x",                     # 1 char, 1 word — bigram/shingle descent class
    "??",                    # punctuation only: zero BPE letter-runs
    "​​",          # zero-width chars only (watermark class)
    "a b",                   # minimal bigram
    "one",                   # 1 word
    "the of and to in",      # stopwords only
    "same same same same",   # repetition
    "plain words appear here often enough to score",
    "plain words appear here often enough to score",  # exact duplicate
    "zz qq vv kk jj ww xx yy",  # rare grams
]


def build_dataset(d: str) -> None:
    for t in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    langs = ["en", "de", "fr"]
    srcs = ["web", "books"]
    rows = []
    for i in range(24):
        text = _DOCS[i % len(_DOCS)]
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": langs[i % 3],
                "source": srcs[i % 2],
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(f"{d}/documents.parquet", index=False)

    # EMBED_DIM-wide (round 10): the vector-validity contract declares
    # the corpus width (llm_vectors.EMBED_DIM=64) — an off-width sweep
    # corpus would be silently excluded wholesale and the zero-norm /
    # similarity lanes would go vacuous-green.
    rng = np.random.RandomState(7)
    vecs = [np.zeros(64, dtype=np.float32)]  # the zero vector
    vecs += [rng.randn(64).astype(np.float32) for _ in range(39)]
    em = pd.DataFrame(
        {
            "vec_id": np.arange(40, dtype=np.int64),
            "embedding": [list(v) for v in vecs],
            "label": np.arange(40, dtype=np.int32) % 4,
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(em, schema=schema), f"{d}/embeddings.parquet")


# Multi-byte shapes: every entry chosen to make SOME counting basis
# (bytes / UTF-16 code units / codepoints / grapheme clusters) disagree
# with another, plus plain anchors so threshold ops keep material.
# Escapes, not literals, so the shapes survive any editor/transport.
_UNICODE_DOCS = [
    "caf\u00e9 na\u00efve r\u00e9sum\u00e9",       # 2-byte latin accents (NFC)
    "cafe\u0301 nai\u0308ve",                    # combining marks (NFD)
    "\u4e2d\u6587\u6587\u6863 \u5927\u89c4\u6a21\u5904\u7406",  # CJK, 3-byte
    "\U0001f600\U0001f680\U0001f4a9",              # astral emoji, 4-byte
    "\U0001f469\u200d\U0001f4bb works",            # ZWJ sequence + ascii
    "\u0645\u0631\u062d\u0628\u0627 \u05e9\u05dc\u05d5\u05dd",  # RTL arabic+hebrew
    "\u0391\u0392\u0393 \u0430\u0431\u0432",        # greek + cyrillic case pairs
    "\uff28\uff25\uff2c\uff2c\uff2f \uff57\uff4f",  # full-width forms
    "mixed \u4e2d ascii \U0001f600 tail",        # mixed widths in one doc
    "\u00df\u0130\u0131",                         # sharp-s, dotted/dotless i
    "\u0663\u0664 \u0665 id9",                     # arabic-indic digits (Nd, not [0-9])
    "plain words appear here often enough to score",
    "the of and to in plain anchor",
    "\u0926\u0947\u0935 \u0966\u0967\u0968 digits",          # devanagari letters + Nd digits
]

# len(_UNICODE_DOCS) must stay COPRIME to 13, 19 and 23 — functions.py
# filters documents by doc_id % {13,19,23} == 0, and a length sharing a
# factor with a modulus feeds those ops a single repeated text (caught
# in round-7 review: at len 13, fn_mask_redact only ever saw doc 0).
# Also: NO astral CASED letters or astral digits here — Spark's mask()
# classifies per UTF-16 code unit, so supplementary-plane Lu/Ll/Nd pass
# through as surrogates while RE2's codepoint classes would mask them;
# that documented engine limitation (functions.py _MASK_ORACLE) makes
# astral cased text a true, unfixable divergence for mask-based ops.
# Astral EMOJI (category So) are fine — both engines skip them.
assert len(_UNICODE_DOCS) % 13 and len(_UNICODE_DOCS) % 19 and len(_UNICODE_DOCS) % 23


def build_unicode_dataset(d: str) -> None:
    """Same table layout as build_dataset but the corpus is multi-byte;
    embeddings come straight from the base SF (text is the focus)."""
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    langs = ["en", "de", "fr"]
    srcs = ["web", "books"]
    rows = []
    for i in range(24):
        text = _UNICODE_DOCS[i % len(_UNICODE_DOCS)]
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": langs[i % 3],
                "source": srcs[i % 2],
                # generator semantics: python len() = codepoints
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(f"{d}/documents.parquet", index=False)


def build_ties_dataset(d: str) -> None:
    """Tie-stress corpus: every rankable statistic collides.  Documents
    are a few distinct texts each repeated many times (tied word counts,
    tied dedup scores, tied quality bands at every k boundary);
    embeddings contain exact-duplicate and sign-flipped vectors (tied
    and anti-tied cosine similarities); events repeat (user_id, value,
    ts) combos (tied window ranks, tied as-of candidates).  Unlike the
    unicode class, ties CAN occur in real driver data — an op whose
    top-k picks depend on engine sort stability instead of an explicit
    total order is a latent driver red, and this corpus makes every such
    boundary a coin flip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in "region nation customer supplier part orders lineitem".split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    # 4 distinct texts x 6 copies each = ties in every count statistic
    texts = [
        "alpha beta gamma delta words",
        "alpha beta gamma delta words",  # same as 0: exact-dup class too
        "epsilon zeta eta theta words",
        "iota kappa lambda mu words",
    ]
    langs = ["en", "de", "fr"]
    rows = []
    for i in range(24):
        text = texts[i % 4]
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": langs[i % 3],
                "source": ["web", "books"][i % 2],
                "n_chars": len(text),
            }
        )
    pd.DataFrame(rows).to_parquet(f"{d}/documents.parquet", index=False)

    # embeddings: 5 distinct base vectors; each appears 4x verbatim and
    # 2x sign-flipped, plus two axis-aligned vectors tied in norm.
    # EMBED_DIM-wide (round 10): off-width vectors are excluded by the
    # validity contract, so a narrow corpus would make this sweep
    # vacuous for the vector family.
    rng = np.random.RandomState(11)
    base = [rng.randn(64).astype(np.float32) for _ in range(5)]
    vecs = []
    for b in base:
        vecs += [b.copy() for _ in range(4)] + [(-b).copy() for _ in range(2)]
    vecs += [np.eye(64, dtype=np.float32)[0], np.eye(64, dtype=np.float32)[1]]
    em = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [list(v) for v in vecs],
            "label": np.arange(len(vecs), dtype=np.int32) % 4,
        }
    )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(em, schema=schema), f"{d}/embeddings.parquet")

    # events: collapse values and timestamps onto a tiny grid so window
    # ranks, as-of candidates, and session gaps tie constantly
    ev = pd.read_parquet(f"{BASE}/events.parquet").head(60).copy()
    # periods 5 (user), 2 (value), 4 (ts) share no factor with each other
    # EXCEPT value/ts (gcd 2), so the full (user_id, value, ts) triple
    # repeats every lcm(5,2,4)=20 rows — 60 rows carry each combo 3x.
    # (The first cut used value = i % 3; 5*3*4 are pairwise coprime, so
    # all 60 triples were DISTINCT and no fully-duplicate event existed —
    # round-7 review catch.)
    ev["value"] = [float(v % 2) for v in range(len(ev))]
    ev["user_id"] = [int(u % 5) + 1 for u in range(len(ev))]
    ts0 = ev["ts"].iloc[0]
    ev["ts"] = [ts0 + pd.Timedelta(minutes=(i % 4) * 10) for i in range(len(ev))]
    orig = pq.read_schema(f"{BASE}/events.parquet")
    pq.write_table(
        pa.Table.from_pandas(ev, schema=orig, preserve_index=False),
        f"{d}/events.parquet",
    )


def build_nonfinite_dataset(d: str) -> None:
    """Every table verbatim except events, whose value column carries
    NaN / +Inf / -Inf / -0.0 on a deterministic stripe (4 of every 11
    rows) with the ORIGINAL finite values in between — distributions,
    keys and timestamps stay intact so the only new stress is the
    non-finite class itself (a truncated/synthetic value column would
    also manufacture count/sum ties, a different sweep's job).

    The value column is rebuilt via pa.array on a plain python list,
    NOT through pandas: Table.from_pandas treats float NaN as the
    pandas missing sentinel and writes parquet NULL, which would make
    the NaN stripe phantom and leave the contract's isnan branch
    untested (round-8 review catch — verified: the pandas path wrote
    0 NaNs)."""
    import pyarrow as pa
    import pyarrow.compute as pc  # pa.compute is NOT lazily exposed (ADVICE r08)
    import pyarrow.parquet as pq

    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    tbl = pq.read_table(f"{BASE}/events.parquet")
    specials = {0: float("nan"), 1: float("inf"), 2: float("-inf"), 3: -0.0}
    vals = [
        specials.get(i % 11, v)
        for i, v in enumerate(tbl.column("value").to_pylist())
    ]
    idx = tbl.schema.get_field_index("value")
    arr = pa.array(vals, type=tbl.schema.field("value").type)
    tbl = tbl.set_column(idx, tbl.schema.field("value"), arr)
    assert pc.sum(pc.is_nan(tbl.column("value"))).as_py() > 0, (
        "NaN stripe did not survive the parquet write — the isnan branch "
        "of the ingest contract would be untested"
    )
    pq.write_table(tbl, f"{d}/events.parquet")


def build_magnitude_dataset(d: str) -> None:
    """Absurd-magnitude corpus (--magnitude, promoted round 10 from
    its standalone probe; rebuilt round 11 for the raised 9e15
    ingest bound, ADVICE r10): events.value striped with FINITE but
    non-physical magnitudes in BOTH contract regimes —

    * VOIDED (|value| > 9e15 → NULL at ingest): 1e18 stripe plus
      ±9.5e15 just past the bound;
    * SURVIVING, legitimately-large (the advisor's scenario — a graded
      corpus carrying values the old 1e12 bound wrongly voided): ±1e13
      stripe in ordinary groups, plus ±9e15 boundary rows at the exact
      kept maximum;
    * 1e-300 (denormal-adjacent tiny, deliberately KEPT).

    The surviving stripe is the hard part: ONE kept 9e15 makes a plain
    double Σvalue round at integer granularity, so every accumulation
    lane must be exact-cents with 128-bit accumulators
    (tables.cents_sum / cents2_sum and their SQL mirrors) to stay
    order-independent — this corpus exists to catch any lane that
    isn't.  (Pandas-write is fine here: every injected value is an
    ordinary finite double that round-trips through pandas unchanged.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    vals = list(ev["value"])
    # i%13==4/5: .5-ulp rounding boundaries (ADVICE r11) —
    # 0.0049999999999999994 is the double just below half a cent
    # (v*100 = 0.49999999999999994 → 0 cents on BOTH engines; the folk
    # floor(abs+0.5) kernel mis-rounds it to 1), and 0.125 is an
    # exactly-representable 12.5 cents (→ 13 half-away on both engines;
    # pandas' half-even .round() would give 12).
    specials = {
        0: 1e13,
        1: -1e13,
        2: 1e18,
        3: 1e-300,
        4: 0.0049999999999999994,
        5: -0.125,
    }
    new_vals = [specials.get(i % 13, v) for i, v in enumerate(vals)]
    # Boundary rows (sparse by design: first-moment int64 lanes keep
    # their documented ~10x headroom).  The two KEPT rows at the exact
    # 9e15 maximum are isolated under their own event_type/user_id —
    # the shape of real corruption (one bad source floods one key) AND
    # the documented contract bound: a seven-deep window of near-max
    # days would push the Bollinger-style exact breakout cross-product
    # past even 128-bit range, which no sparse real feed does.  Both
    # kept rows come from the SAME donor type (the most frequent one)
    # so the per-type counts stay pairwise distinct — a manufactured
    # count tie flips agg_approx_topk's sketch-internal tie order,
    # which is not contractual.  The two VOIDED rows (9.5e15, just
    # past the bound) stay in their ordinary groups: post-ingest they
    # are NULL measurements and exercise every lane's NULL path.
    donor = ev["event_type"].value_counts().idxmax()
    donor_pos = [i for i, t in enumerate(ev["event_type"]) if t == donor][:2]
    for pos, v in zip(donor_pos, (9e15, -9e15)):
        new_vals[pos] = v
    for pos, v in ((30, 9.5e15), (43, -9.5e15)):
        if pos < len(new_vals) and pos not in donor_pos:
            new_vals[pos] = v
    ev["value"] = new_vals
    for pos in donor_pos:
        ev.loc[ev.index[pos], "event_type"] = "magprobe"
        ev.loc[ev.index[pos], "user_id"] = 99990000 + pos
    # UNLUCKY NEGATIVE pair (round 12): DuckDB's HUGEINT/DECIMAL →
    # DOUBLE conversion mis-rounds NEGATIVE values needing rounding
    # (positives are correctly rounded — probed: 64/4000 random wide
    # ints fire, e.g. -39454012720366565 casts to ...560 where IEEE
    # nearest is ...568), and that includes the `Σcents / 100.0` output
    # shape the r11 doctrine called safe (validated on positives only).
    # Each single round(v*100) cents value past 2^53 is exactly
    # representable BY CONSTRUCTION (it is the integer value of an
    # integer-valued double), so only a GROUP SUM can need rounding:
    # this pair's Σcents = -1136430746256926656, which DuckDB's naked
    # cast renders 2 ulp from IEEE-nearest.  Isolated in their own
    # event_type/user_id AND moved to one shared timestamp so both
    # global and daily-grain lanes see the unlucky sum; any oracle that
    # converts a possibly-negative wide Σ to double without the VARCHAR
    # round-trip (tables.exact_double_sql) diverges on this corpus.
    neg_donor = [i for i, t in enumerate(ev["event_type"]) if t == donor][:2]
    for pos, v in zip(neg_donor, (-9e15, -2364307462569266.5)):
        ev.loc[ev.index[pos], "value"] = v
        ev.loc[ev.index[pos], "event_type"] = "magneg"
        # SHARED user_id (round-12 grain extension): with one fictional
        # user owning exactly the pair, per-user Σcents IS the unlucky
        # sum, so user-grain lanes exercise the negative-cast doctrine
        # too (they previously saw only single exactly-representable
        # values — the r12 stripe was (type, day, hour)-grain only).
        ev.loc[ev.index[pos], "user_id"] = 99980000
    ev.loc[ev.index[neg_donor[1]], "ts"] = ev.loc[ev.index[neg_donor[0]], "ts"]
    pq.write_table(
        pa.Table.from_pandas(
            ev, schema=pq.read_schema(f"{BASE}/events.parquet"), preserve_index=False
        ),
        f"{d}/events.parquet",
    )


def build_skew_dataset(d: str) -> None:
    """Hot-key corpus (--skew, round 11 — VERDICT r10 item 2: the last
    untested corpus class a 100 TB feed is guaranteed to contain).
    Three orthogonal hot keys, each the canonical real-world shape:

    * ONE user owns 50% of events (a bot / monitoring account): every
      second event is reassigned to the existing modal user_id, so
      per-user windows, sessionization, and funnels see one partition
      carrying half the table;
    * ONE lang owns 90% of documents (an English-dominated crawl);
    * 30% of documents are NEAR-DUPLICATES of one boilerplate template
      (spam/mirror pages) — every shingle of the template lands the
      same MinHash/LSH buckets, so banded candidate generation gets one
      hot (band, bucket) with a quadratic pair set;
    * the SAME 30% of embeddings are EXACT duplicates of one vector —
      the hot cosine/LSH bucket, plus maximal similarity ties.

    Values/timestamps stay sane (this corpus tests skew, not
    magnitude).  n_chars mirrors len(text) — the generator invariant.
    Correctness on this corpus is the parity gate; the WALL-TIME
    catalog (stragglers from hot keys) is ``--skew --solo``, same split
    as the round-10 bigdoc pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in (
        "region nation customer supplier part orders lineitem"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    hot_uid = ev["user_id"].value_counts().idxmax()
    uids = list(ev["user_id"])
    ev["user_id"] = [hot_uid if i % 2 == 0 else u for i, u in enumerate(uids)]
    pq.write_table(
        pa.Table.from_pandas(
            ev, schema=pq.read_schema(f"{BASE}/events.parquet"), preserve_index=False
        ),
        f"{d}/events.parquet",
    )

    docs = pd.read_parquet(f"{BASE}/documents.parquet").copy()
    hot_lang = docs["lang"].value_counts().idxmax()
    langs = list(docs["lang"])
    docs["lang"] = [hot_lang if i % 10 != 0 else l for i, l in enumerate(langs)]
    boiler = " ".join(f"boiler{w % 23}" for w in range(160))
    texts = list(docs["text"])
    ids = list(docs["doc_id"])
    new_texts = [
        (boiler + f" tail{ids[i]}") if i % 10 in (3, 4, 5) else t
        for i, t in enumerate(texts)
    ]
    docs["text"] = new_texts
    docs["n_chars"] = [len(t) if t is not None else None for t in new_texts]
    pq.write_table(
        pa.Table.from_pandas(
            docs,
            schema=pq.read_schema(f"{BASE}/documents.parquet"),
            preserve_index=False,
        ),
        f"{d}/documents.parquet",
    )

    em = pd.read_parquet(f"{BASE}/embeddings.parquet").copy()
    vecs = list(em["embedding"])
    hot_vec = vecs[0]
    em["embedding"] = [
        hot_vec if i % 10 in (3, 4, 5) else v for i, v in enumerate(vecs)
    ]
    pq.write_table(
        pa.Table.from_pandas(
            em,
            schema=pq.read_schema(f"{BASE}/embeddings.parquet"),
            preserve_index=False,
        ),
        f"{d}/embeddings.parquet",
    )


def build_badjson_dataset(d: str) -> None:
    """Malformed-JSON corpus (--badjson, promoted round 10 from
    its standalone probe after the fix wave): ``events.props``
    striped (1/7 rows) with real-feed corruption — truncated objects,
    bare non-JSON text, empty strings, ``null`` literals, wrong-type
    payloads, duplicate-key objects.  Spark's JSON surfaces NULL
    malformed input natively; the 4 ops that failed needed json_valid /
    json_usable oracle guards, try_parse_json for the VARIANT lane, and
    the dup-key ambiguity rule (Spark keeps the LAST duplicate key,
    DuckDB extracts the FIRST — such payloads are rejected/quarantined
    outright on both sides, tables.json_usable_sql)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = [
        '{"k": 8',
        "not json at all",
        "",
        "null",
        "[1,2,3]",
        '{"k": 1, "k": 2}',
        # VALID JSON, int32-overflow k: from_json('k INT') NULLs the row
        # on Spark while a bare oracle CAST(max(...) AS INT) would crash
        # DuckDB (ADVICE r10 — fn_json max_k per-row range guard).
        '{"k": 5000000000}',
        # non-strict constant: Spark's variant parser rejects it but
        # DuckDB's json_valid ACCEPTS it — pins json_usable_sql's
        # string-stripped NaN/Infinity lexical rejection (round 11).
        '{"k": NaN}',
    ]
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    props = list(ev["props"])
    for i in range(0, len(props), 7):
        props[i] = bad[(i // 7) % len(bad)]
    ev["props"] = props
    pq.write_table(
        pa.Table.from_pandas(
            ev, schema=pq.read_schema(f"{BASE}/events.parquet"), preserve_index=False
        ),
        f"{d}/events.parquet",
    )


def build_mixdim_dataset(d: str) -> None:
    """Mixed-embedding-dimension corpus (--mixdim, promoted round 10
    from its standalone probe after the EMBED_DIM contract): ~1/9
    embedding rows truncated to 32 dims, ~1/17 padded to 72 — the
    model-version mix every production embedding table accumulates (a
    re-embed job lands different-width rows; list<float> is unbounded).
    10 of 16 vector ops crashed (numpy inhomogeneous-shape) before the
    dimension layer of the vector-validity contract
    (llm_vectors.valid_vec EMBED_DIM=64, mirrored in every paired
    oracle)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    em = pd.read_parquet(f"{BASE}/embeddings.parquet").copy()
    emb = list(em["embedding"])
    for i in range(0, len(emb), 9):
        emb[i] = list(emb[i])[:32]          # old-model rows: 32 dims
    for i in range(4, len(emb), 17):
        emb[i] = list(emb[i]) + [0.0] * 8   # padded rows: 72 dims
    em["embedding"] = emb
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(
            em[["vec_id", "embedding", "label"]], schema=schema,
            preserve_index=False
        ),
        f"{d}/embeddings.parquet",
    )


def build_bigdoc_dataset(d: str) -> None:
    """Oversized-document corpus (--bigdoc, promoted round 10 from
    its standalone probe after the bounded-prefix + linear-kernel
    wave): the first two documents replaced with ~130 KB (20k-word) and
    ~520 KB (80k-word) outliers — the multi-MB crawl artifacts
    (concatenated logs, minified JS, OCR dumps) that turn super-linear
    per-doc kernels into job-tail stragglers.  This parity sweep checks
    the capped signatures agree on both engines; the TIMING gate is the
    probe itself (subprocess-per-op isolation — a parity sweep cannot
    pin a straggler)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    docs = pd.read_parquet(f"{BASE}/documents.parquet").copy()
    rng = np.random.RandomState(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "river", "stone", "cloud", "ember"]
    docs.loc[docs.index[0], "text"] = " ".join(rng.choice(words, 20_000))
    docs.loc[docs.index[1], "text"] = " ".join(rng.choice(words, 80_000))
    docs["n_chars"] = docs["text"].str.len()
    pq.write_table(
        pa.Table.from_pandas(
            docs,
            schema=pq.read_schema(f"{BASE}/documents.parquet"),
            preserve_index=False,
        ),
        f"{d}/documents.parquet",
    )


def build_ctrlchars_dataset(d: str) -> None:
    """Control-character corpus (--ctrlchars, promoted round 10 from
    its standalone probe): documents.text striped with embedded
    newlines, CRLF, quotes+commas, tabs, NUL bytes, and literal
    backslash-n — serialization-boundary stress for the text/CSV
    writers.  src_text_lines raises its typed ContractViolation here
    (deliberate fail-fast: a line-per-doc roundtrip would corrupt the
    corpus) and is counted as a contracted pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ctrl = [
        "line one\nline two\nline three",
        "crlf line\r\nsecond",
        'a "quoted" phrase, with commas, and more',
        "tab\tseparated\ttokens here",
        "nul\x00byte inside",
        "backslash \\n literal not newline",
        'mixed: "q", comma,\nnewline\ttab \x00 nul',
    ]
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    docs = pd.read_parquet(f"{BASE}/documents.parquet").copy()
    texts = list(docs["text"])
    for i in range(0, len(texts), 5):
        texts[i] = ctrl[(i // 5) % len(ctrl)]
    docs["text"] = texts
    docs["n_chars"] = [len(t) if t is not None else None for t in texts]
    pq.write_table(
        pa.Table.from_pandas(
            docs,
            schema=pq.read_schema(f"{BASE}/documents.parquet"),
            preserve_index=False,
        ),
        f"{d}/documents.parquet",
    )


def build_empty_dataset(d: str) -> None:
    """Zero-row corpus (--empty, promoted round 10 from
    its standalone probe after the fix wave): events, documents and
    embeddings written as 0-row parquet with the exact shipped schemas
    (pyarrow ``schema.empty_table()``); relational tables intact.  The
    day-one shape of every scheduled pipeline — a new partition/tenant
    with no data yet.  9 ops failed before the wave: write-then-read-back
    schema inference (UNABLE_TO_INFER_SCHEMA off zero data files),
    indicator-SUM-vs-COUNT divergence, driver-side sample/fit on zero
    rows, and the 0-row DATE dtype loss at the pandas boundary."""
    import pyarrow.parquet as pq

    for t in "region nation customer supplier part orders lineitem".split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
    for t in ("events", "documents", "embeddings"):
        schema = pq.read_schema(f"{BASE}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{d}/{t}.parquet")


def build_dupkeys_dataset(d: str) -> None:
    """Duplicate-surrogate-key corpus (--dupkeys, promoted round 10 from
    its standalone probe after the deterministic-winner wave):
    1/10 event_ids replayed (shifted ts, different value/event_type),
    1/7 doc_ids re-crawled (different text), 1/8 vec_ids re-embedded
    (different vector) — the at-least-once-delivery shape every real
    100 TB feed eventually produces.  Before the winner contract
    (tables.winner_document / winner_embedding / latest_event), 14 ops
    failed in 4 classes — including TWO silent wrong answers (per-key
    gram sets unioning two texts: Jaccard 1.878, containment 2.0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in "region nation customer supplier part orders lineitem".split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    def write(t: str, frame: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(
                frame,
                schema=pq.read_schema(f"{BASE}/{t}.parquet"),
                preserve_index=False,
            ),
            f"{d}/{t}.parquet",
        )

    ev = pd.read_parquet(f"{BASE}/events.parquet")
    dup = ev[ev["event_id"] % 10 == 0].copy()
    # branch on the base layout like build_timewarp_dataset (review
    # catch): under the round-1/2 bigint-ns parquet layout ts is int64
    # epoch-ns and Timedelta addition would break the schema-preserving
    # write
    if pd.api.types.is_integer_dtype(dup["ts"].dtype):
        dup["ts"] = dup["ts"] + int(pd.Timedelta(minutes=3).value)
    else:
        dup["ts"] = dup["ts"] + pd.Timedelta(minutes=3)  # replay arrives later
    dup["value"] = dup["value"].round(2) + 0.07
    dup["event_type"] = "replay"
    write("events", pd.concat([ev, dup], ignore_index=True))

    docs = pd.read_parquet(f"{BASE}/documents.parquet")
    ddup = docs[docs["doc_id"] % 7 == 0].copy()
    ddup["text"] = ddup["text"].fillna("") + " recrawled copy differs"
    ddup["n_chars"] = ddup["text"].str.len()
    write("documents", pd.concat([docs, ddup], ignore_index=True))

    em = pd.read_parquet(f"{BASE}/embeddings.parquet")
    edup = em[em["vec_id"] % 8 == 0].copy()
    edup["embedding"] = edup["embedding"].apply(
        lambda v: [float(x) * 0.5 + 0.25 for x in v]  # re-embed: new vector
    )
    write("embeddings", pd.concat([em, edup], ignore_index=True))


def build_nulls_dataset(d: str) -> None:
    """NULL-bulk corpus (--nulls, promoted from its standalone probe
    after the round-9 fix wave): NULLs striped into every nullable
    non-key column — NULL text/lang/source, NULL value/props/event_type,
    NULL o_totalprice/o_orderpriority, NULL l_discount/l_tax/
    l_returnflag, whole-NULL embeddings AND element-level NULLs inside
    vectors, NULL labels.  Keys stay intact so joins keep their shape.
    (Pandas-write is fine here: the injected sentinel IS the missing
    value, unlike the nonfinite builder where NaN must survive as a real
    float.)  This is the corpus a real 100 TB feed actually resembles —
    round 8's probe found 45/351 ops crashed or diverged on it before
    the class fixes landed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in "region nation customer supplier part".split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    def write(t: str, frame: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(
                frame,
                schema=pq.read_schema(f"{BASE}/{t}.parquet"),
                preserve_index=False,
            ),
            f"{d}/{t}.parquet",
        )

    orders = pd.read_parquet(f"{BASE}/orders.parquet").copy()
    orders.loc[orders.index % 5 == 0, "o_totalprice"] = None
    orders.loc[orders.index % 7 == 0, "o_orderpriority"] = None
    write("orders", orders)

    li = pd.read_parquet(f"{BASE}/lineitem.parquet").copy()
    li.loc[li.index % 5 == 0, "l_discount"] = None
    li.loc[li.index % 7 == 0, "l_tax"] = None
    li.loc[li.index % 6 == 0, "l_returnflag"] = None
    write("lineitem", li)

    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    ev.loc[ev.index % 4 == 0, "value"] = None
    ev.loc[ev.index % 5 == 0, "props"] = None
    ev.loc[ev.index % 6 == 0, "event_type"] = None
    write("events", ev)

    docs = pd.read_parquet(f"{BASE}/documents.parquet").copy()
    docs.loc[docs.index % 5 == 0, "text"] = None
    docs.loc[docs.index % 7 == 0, "lang"] = None
    docs.loc[docs.index % 9 == 0, "source"] = None
    # NULL-lang NEAR-DUP stripe (ADVICE r11 high): three docs sharing a
    # 32-char prefix, pairwise >=0.8 edit-similar, but lang=NULL — a
    # NULL blocking key must yield ZERO fuzzy-dedup pairs on BOTH
    # engines (Spark's window would otherwise group the NULL-lang
    # block and emit 3 pairs where the oracle's equality join emits 0).
    base_txt = "shared thirty-two char prefix xx " + "near duplicate body " * 8
    nd = pd.DataFrame(
        {
            "doc_id": [9901, 9902, 9903],
            "text": [base_txt, base_txt + "tail a", base_txt + "tail bb"],
            "lang": [None, None, None],
            "source": ["nullnd", "nullnd", "nullnd"],
            "n_chars": [len(base_txt), len(base_txt) + 6, len(base_txt) + 7],
        }
    )
    docs = pd.concat([docs, nd], ignore_index=True)
    write("documents", docs)

    em = pd.read_parquet(f"{BASE}/embeddings.parquet").copy()
    emb = list(em["embedding"])
    for i in range(0, len(emb), 6):
        emb[i] = None  # whole-vector NULL
    for i in range(3, len(emb), 9):
        if emb[i] is not None:  # element-level NULL: [x0, NULL, x2, ...]
            v = list(emb[i])
            v[1] = None
            emb[i] = v
    em["embedding"] = emb
    em.loc[em.index % 7 == 0, "label"] = None
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(
            em[["vec_id", "embedding", "label"]], schema=schema, preserve_index=False
        ),
        f"{d}/embeddings.parquet",
    )


def build_orphans_dataset(d: str) -> None:
    """Referential-violation corpus (--orphans, promoted round 12 from
    its standalone probe): dangling foreign keys striped into the
    three fact->dim edges — the single most common real-feed corruption
    after NULLs (deleted accounts, GDPR erasure, partial ingestion,
    cross-system id spaces):

    * 30% of ``events.user_id`` point at customers that do not exist;
    * 1/7 of ``lineitem.l_orderkey`` reference missing orders;
    * 1/9 of ``orders.o_custkey`` reference missing customers.

    Every shipped corpus is referentially intact (verified round 11: 0
    orphans at sf0.001/sf0.01), so before round 12 no driver stamp
    covered the class.  The risk classes it exercises: INNER joins must
    drop orphans identically; LEFT joins must carry NULL dim columns
    into digest/concat/winner lanes under the round-9 NULL contracts;
    DQ/quarantine counts must move identically; and percent-of-dim /
    spine denominators must not silently assume the key domain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in ("region nation customer supplier part documents embeddings").split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    uids = list(ev["user_id"])
    ev["user_id"] = [
        90000000 + i if i % 10 in (0, 1, 2) else u for i, u in enumerate(uids)
    ]
    pq.write_table(
        pa.Table.from_pandas(
            ev, schema=pq.read_schema(f"{BASE}/events.parquet"), preserve_index=False
        ),
        f"{d}/events.parquet",
    )

    li = pd.read_parquet(f"{BASE}/lineitem.parquet").copy()
    oks = list(li["l_orderkey"])
    li["l_orderkey"] = [
        900000000 + i if i % 7 == 0 else k for i, k in enumerate(oks)
    ]
    pq.write_table(
        pa.Table.from_pandas(
            li, schema=pq.read_schema(f"{BASE}/lineitem.parquet"), preserve_index=False
        ),
        f"{d}/lineitem.parquet",
    )

    od = pd.read_parquet(f"{BASE}/orders.parquet").copy()
    cks = list(od["o_custkey"])
    od["o_custkey"] = [
        90000000 + i if i % 9 == 0 else k for i, k in enumerate(cks)
    ]
    pq.write_table(
        pa.Table.from_pandas(
            od, schema=pq.read_schema(f"{BASE}/orders.parquet"), preserve_index=False
        ),
        f"{d}/orders.parquet",
    )


def build_timewarp_dataset(d: str) -> None:
    """Decades-out-timestamp corpus (--timewarp, promoted from
    its standalone probe after the round-9 second-wave fixes):
    events.ts striped with pre-1970 negative epochs (1969-12-31 23:45,
    1950) and far-future stamps (2099); orders.o_orderdate striped with
    1968.  The stripe is deliberately dense (1/3 of events rows, 1/11
    of order dates) to trigger the classes decisively; real feeds carry
    such rows sparsely, but even one reproduces both hazards.  Two
    operator classes were exposed before
    the valid_ts contract (tables.py): RANGE-MATERIALIZING ops (grid
    generators explode to a 150-year spine off one outlier — task-OOM
    class) and WATERMARK ops (monotonic event-time state silently drops
    every honest row behind one far-future event)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in "region nation customer supplier part lineitem documents embeddings".split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")

    def write(t: str, frame: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(
                frame,
                schema=pq.read_schema(f"{BASE}/{t}.parquet"),
                preserve_index=False,
            ),
            f"{d}/{t}.parquet",
        )

    ev = pd.read_parquet(f"{BASE}/events.parquet").copy()
    # Branch on the base layout (ADVICE r09): under the round-1/2
    # bigint-ns parquet layout (which tables._normalize_events_ts still
    # supports) the ts column arrives as int64 epoch-ns, and assigning
    # pd.Timestamp cells would make the schema-preserving write below
    # fail — inject equivalent int64 ns epochs instead.
    ts_is_int = pd.api.types.is_integer_dtype(ev["ts"].dtype)

    def stamp(s: str):
        t = pd.Timestamp(s)
        return t.value if ts_is_int else t

    ts = list(ev["ts"])
    for i in range(len(ts)):
        if i % 9 == 0:
            ts[i] = stamp("1969-12-31 23:45:17")  # negative epoch
        elif i % 9 == 1:
            ts[i] = stamp("1950-03-02 04:05:06.789012")
        elif i % 9 == 2:
            ts[i] = stamp("2099-11-30 23:59:59.999999")
    ev["ts"] = ts
    write("events", ev)

    o = pd.read_parquet(f"{BASE}/orders.parquet").copy()
    od = list(o["o_orderdate"])
    for i in range(0, len(od), 11):
        od[i] = pd.Timestamp("1968-06-15")
    o["o_orderdate"] = od
    write("orders", o)


def build_tiny_dataset(d: str) -> None:
    """Referentially-intact minimal tables: joins still produce (few)
    rows, empty groups exist, every sketch/model trains on fewer points
    than its capacity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def shrink(t: str, frame: pd.DataFrame) -> None:
        orig = pq.read_schema(f"{BASE}/{t}.parquet")
        tbl = pa.Table.from_pandas(frame, schema=orig, preserve_index=False)
        pq.write_table(tbl, f"{d}/{t}.parquet")

    region = pd.read_parquet(f"{BASE}/region.parquet")
    nation = pd.read_parquet(f"{BASE}/nation.parquet")
    shrink("region", region)
    shrink("nation", nation.head(6))
    cust = pd.read_parquet(f"{BASE}/customer.parquet")
    cust = cust[cust["c_nationkey"].isin(nation.head(6)["n_nationkey"])].head(2)
    shrink("customer", cust)
    supp = pd.read_parquet(f"{BASE}/supplier.parquet").head(2)
    shrink("supplier", supp)
    part = pd.read_parquet(f"{BASE}/part.parquet").head(3)
    shrink("part", part)
    orders = pd.read_parquet(f"{BASE}/orders.parquet")
    orders = orders[orders["o_custkey"].isin(cust["c_custkey"])].head(4)
    shrink("orders", orders)
    li = pd.read_parquet(f"{BASE}/lineitem.parquet")
    li = li[
        li["l_orderkey"].isin(orders["o_orderkey"])
        & li["l_suppkey"].isin(supp["s_suppkey"])
        & li["l_partkey"].isin(part["p_partkey"])
    ]
    if len(li) < 2:  # keep at least a couple of lines even if keys miss
        li = pd.read_parquet(f"{BASE}/lineitem.parquet")
        li = li[li["l_orderkey"].isin(orders["o_orderkey"])].head(3)
    shrink("lineitem", li)
    ev = pd.read_parquet(f"{BASE}/events.parquet")
    ev_hit = ev[ev["user_id"].isin(cust["c_custkey"])].head(4)
    ev = pd.concat([ev_hit, ev.head(2)]).drop_duplicates("event_id")
    shrink("events", ev)
    docs = pd.read_parquet(f"{BASE}/documents.parquet").head(4)
    shrink("documents", docs)
    em = pd.read_parquet(f"{BASE}/embeddings.parquet").head(6)
    shrink("embeddings", em)


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
    print(
        f"SESSION master={sc.master} default_parallelism={sc.defaultParallelism} "
        f"shuffle_partitions={conf.get('spark.sql.shuffle.partitions')} "
        f"max_partition_bytes={conf.get('spark.sql.files.maxPartitionBytes')}",
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


# Corpus modes: one flag per corpus builder; None is the default
# degenerate corpus.  Exactly one corpus per run.
MODES = {
    None: build_dataset,
    "--tiny": build_tiny_dataset,
    "--unicode": build_unicode_dataset,
    "--ties": build_ties_dataset,
    "--nonfinite": build_nonfinite_dataset,
    "--nulls": build_nulls_dataset,
    "--timewarp": build_timewarp_dataset,
    "--magnitude": build_magnitude_dataset,
    "--dupkeys": build_dupkeys_dataset,
    "--empty": build_empty_dataset,
    "--badjson": build_badjson_dataset,
    "--bigdoc": build_bigdoc_dataset,
    "--ctrlchars": build_ctrlchars_dataset,
    "--mixdim": build_mixdim_dataset,
    "--skew": build_skew_dataset,
    "--orphans": build_orphans_dataset,
}


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

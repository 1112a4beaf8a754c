"""The corpora of the degenerate sweep and of the corpus tests.

Each mode is a builder ``build(d)`` that writes one corpus as the ten
``<d>/<table>.parquet`` files ``tables.load_table`` and
``oracle_diff.duck_connect`` read.  It starts from the base corpus
``BASE`` (the shipped sf0.001, or ``SPARK_GRAFT_SMOKE_SF_DIR``):

* the sixteen stress modes compute per-table overrides and hand them to
  :func:`write`, which copies every base table a mode does not override
  and writes each override against the base file's own Arrow schema;
* ``wide`` and ``permuted`` rewrite every table through perfbench's
  seeded generator (``perfbench.corpus.write_table``, seed ``SEED``):
  the same rows in a fixed permuted order, as 64 row groups per file or
  as one.

``MODES`` maps each sweep flag (``None``: the default degenerate corpus)
to its builder; tools/sweep_degenerate.py takes its modes from it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc  # pa.compute is NOT lazily exposed (ADVICE r08)
import pyarrow.parquet as pq

from perfbench.corpus import write_table
from un_datapipeline_spark.tables import TABLE_NAMES, read_parquet

# same env override convention as tests/conftest.py's SF_SMOKE
BASE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")

# The row permutation of the wide and permuted layouts.
SEED = 1


def write(d: str, overrides: dict) -> None:
    """Write ``BASE`` with ``overrides`` ({table: pandas or Arrow table})
    to ``d``.  A pandas override is converted against the base file's
    own schema, so every column keeps its shipped type."""
    for t in TABLE_NAMES:
        path = f"{d}/{t}.parquet"
        if t not in overrides:
            shutil.copy(f"{BASE}/{t}.parquet", path)
            continue
        data = overrides[t]
        if isinstance(data, pd.DataFrame):
            schema = pq.read_schema(f"{BASE}/{t}.parquet")
            data = pa.Table.from_pandas(data, schema=schema, preserve_index=False)
        pq.write_table(data, path)


def _base(t: str) -> pd.DataFrame:
    return pd.read_parquet(f"{BASE}/{t}.parquet")


def _docs(texts: list[str]) -> pd.DataFrame:
    """24 documents cycling through ``texts``, three langs and two
    sources; n_chars is the generator's len(text), in codepoints."""
    return pd.DataFrame(
        {
            "doc_id": i,
            "text": texts[i % len(texts)],
            "lang": ["en", "de", "fr"][i % 3],
            "source": ["web", "books"][i % 2],
            "n_chars": len(texts[i % len(texts)]),
        }
        for i in range(24)
    )


def _vectors(vecs: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [list(v) for v in vecs],
            "label": np.arange(len(vecs), dtype=np.int32) % 4,
        }
    )


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


def degenerate(d: str) -> None:
    """The default corpus: documents of nothing but degenerate shapes,
    and embeddings that include the zero vector."""
    # EMBED_DIM-wide (round 10): the vector-validity contract declares
    # the corpus width (llm_vectors.EMBED_DIM=64) — an off-width sweep
    # corpus would be silently excluded wholesale and the zero-norm /
    # similarity lanes would go vacuous-green.
    rng = np.random.RandomState(7)
    vecs = [np.zeros(64, dtype=np.float32)]  # the zero vector
    vecs += [rng.randn(64).astype(np.float32) for _ in range(39)]
    write(d, {"documents": _docs(_DOCS), "embeddings": _vectors(vecs)})


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


def unicode(d: str) -> None:
    """Same table layout as the degenerate corpus but the documents are
    multi-byte; embeddings come straight from the base SF (text is the
    focus)."""
    write(d, {"documents": _docs(_UNICODE_DOCS)})


def ties(d: str) -> None:
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
    # 4 distinct texts x 6 copies each = ties in every count statistic
    texts = [
        "alpha beta gamma delta words",
        "alpha beta gamma delta words",  # same as 0: exact-dup class too
        "epsilon zeta eta theta words",
        "iota kappa lambda mu words",
    ]

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

    # events: collapse values and timestamps onto a tiny grid so window
    # ranks, as-of candidates, and session gaps tie constantly
    ev = _base("events").head(60).copy()
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
    write(d, {"documents": _docs(texts), "embeddings": _vectors(vecs), "events": ev})


def nonfinite(d: str) -> None:
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
    write(d, {"events": tbl})


def magnitude(d: str) -> None:
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
    ev = _base("events")
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
    write(d, {"events": ev})


def skew(d: str) -> None:
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
    ev = _base("events")
    hot_uid = ev["user_id"].value_counts().idxmax()
    uids = list(ev["user_id"])
    ev["user_id"] = [hot_uid if i % 2 == 0 else u for i, u in enumerate(uids)]

    docs = _base("documents")
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

    em = _base("embeddings")
    vecs = list(em["embedding"])
    hot_vec = vecs[0]
    em["embedding"] = [
        hot_vec if i % 10 in (3, 4, 5) else v for i, v in enumerate(vecs)
    ]
    write(d, {"events": ev, "documents": docs, "embeddings": em})


# The --badjson stripe: real-feed corruption of ``events.props``.
BAD_JSON = [
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


def badjson(d: str) -> None:
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
    ev = _base("events")
    props = list(ev["props"])
    for i in range(0, len(props), 7):
        props[i] = BAD_JSON[(i // 7) % len(BAD_JSON)]
    ev["props"] = props
    write(d, {"events": ev})


def mixdim(d: str) -> None:
    """Mixed-embedding-dimension corpus (--mixdim, promoted round 10
    from its standalone probe after the EMBED_DIM contract): ~1/9
    embedding rows truncated to 32 dims, ~1/17 padded to 72 — the
    model-version mix every production embedding table accumulates (a
    re-embed job lands different-width rows; list<float> is unbounded).
    10 of 16 vector ops crashed (numpy inhomogeneous-shape) before the
    dimension layer of the vector-validity contract
    (llm_vectors.valid_vec EMBED_DIM=64, mirrored in every paired
    oracle)."""
    em = _base("embeddings")
    emb = list(em["embedding"])
    for i in range(0, len(emb), 9):
        emb[i] = list(emb[i])[:32]          # old-model rows: 32 dims
    for i in range(4, len(emb), 17):
        emb[i] = list(emb[i]) + [0.0] * 8   # padded rows: 72 dims
    em["embedding"] = emb
    write(d, {"embeddings": em})


def bigdoc(d: str) -> None:
    """Oversized-document corpus (--bigdoc, promoted round 10 from
    its standalone probe after the bounded-prefix + linear-kernel
    wave): the first two documents replaced with ~130 KB (20k-word) and
    ~520 KB (80k-word) outliers — the multi-MB crawl artifacts
    (concatenated logs, minified JS, OCR dumps) that turn super-linear
    per-doc kernels into job-tail stragglers.  This parity sweep checks
    the capped signatures agree on both engines; the TIMING gate is the
    probe itself (subprocess-per-op isolation — a parity sweep cannot
    pin a straggler)."""
    docs = _base("documents")
    rng = np.random.RandomState(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "river", "stone", "cloud", "ember"]
    docs.loc[docs.index[0], "text"] = " ".join(rng.choice(words, 20_000))
    docs.loc[docs.index[1], "text"] = " ".join(rng.choice(words, 80_000))
    docs["n_chars"] = docs["text"].str.len()
    write(d, {"documents": docs})


def ctrlchars(d: str) -> None:
    """Control-character corpus (--ctrlchars, promoted round 10 from
    its standalone probe): documents.text striped with embedded
    newlines, CRLF, quotes+commas, tabs, NUL bytes, and literal
    backslash-n — serialization-boundary stress for the text/CSV
    writers.  src_text_lines raises its typed ContractViolation here
    (deliberate fail-fast: a line-per-doc roundtrip would corrupt the
    corpus) and is counted as a contracted pass."""
    ctrl = [
        "line one\nline two\nline three",
        "crlf line\r\nsecond",
        'a "quoted" phrase, with commas, and more',
        "tab\tseparated\ttokens here",
        "nul\x00byte inside",
        "backslash \\n literal not newline",
        'mixed: "q", comma,\nnewline\ttab \x00 nul',
    ]
    docs = _base("documents")
    texts = list(docs["text"])
    for i in range(0, len(texts), 5):
        texts[i] = ctrl[(i // 5) % len(ctrl)]
    docs["text"] = texts
    docs["n_chars"] = [len(t) if t is not None else None for t in texts]
    write(d, {"documents": docs})


def empty(d: str) -> None:
    """Zero-row corpus (--empty, promoted round 10 from
    its standalone probe after the fix wave): events, documents and
    embeddings written as 0-row parquet with the exact shipped schemas
    (pyarrow ``schema.empty_table()``); relational tables intact.  The
    day-one shape of every scheduled pipeline — a new partition/tenant
    with no data yet.  9 ops failed before the wave: write-then-read-back
    schema inference (UNABLE_TO_INFER_SCHEMA off zero data files),
    indicator-SUM-vs-COUNT divergence, driver-side sample/fit on zero
    rows, and the 0-row DATE dtype loss at the pandas boundary."""
    write(d, {
        t: pq.read_schema(f"{BASE}/{t}.parquet").empty_table()
        for t in ("events", "documents", "embeddings")
    })


def dupkeys(d: str) -> None:
    """Duplicate-surrogate-key corpus (--dupkeys, promoted round 10 from
    its standalone probe after the deterministic-winner wave):
    1/10 event_ids replayed (shifted ts, different value/event_type),
    1/7 doc_ids re-crawled (different text), 1/8 vec_ids re-embedded
    (different vector) — the at-least-once-delivery shape every real
    100 TB feed eventually produces.  Before the winner contract
    (tables.winner_document / winner_embedding / latest_event), 14 ops
    failed in 4 classes — including TWO silent wrong answers (per-key
    gram sets unioning two texts: Jaccard 1.878, containment 2.0)."""
    ev = _base("events")
    dup = ev[ev["event_id"] % 10 == 0].copy()
    # branch on the base layout like timewarp (review catch): under the
    # round-1/2 bigint-ns parquet layout ts is int64 epoch-ns and
    # Timedelta addition would break the schema-preserving write
    if pd.api.types.is_integer_dtype(dup["ts"].dtype):
        dup["ts"] = dup["ts"] + int(pd.Timedelta(minutes=3).value)
    else:
        dup["ts"] = dup["ts"] + pd.Timedelta(minutes=3)  # replay arrives later
    dup["value"] = dup["value"].round(2) + 0.07
    dup["event_type"] = "replay"

    docs = _base("documents")
    ddup = docs[docs["doc_id"] % 7 == 0].copy()
    ddup["text"] = ddup["text"].fillna("") + " recrawled copy differs"
    ddup["n_chars"] = ddup["text"].str.len()

    em = _base("embeddings")
    edup = em[em["vec_id"] % 8 == 0].copy()
    edup["embedding"] = edup["embedding"].apply(
        lambda v: [float(x) * 0.5 + 0.25 for x in v]  # re-embed: new vector
    )
    write(d, {
        "events": pd.concat([ev, dup], ignore_index=True),
        "documents": pd.concat([docs, ddup], ignore_index=True),
        "embeddings": pd.concat([em, edup], ignore_index=True),
    })


def nulls(d: str) -> None:
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
    orders = _base("orders")
    orders.loc[orders.index % 5 == 0, "o_totalprice"] = None
    orders.loc[orders.index % 7 == 0, "o_orderpriority"] = None

    li = _base("lineitem")
    li.loc[li.index % 5 == 0, "l_discount"] = None
    li.loc[li.index % 7 == 0, "l_tax"] = None
    li.loc[li.index % 6 == 0, "l_returnflag"] = None

    ev = _base("events")
    ev.loc[ev.index % 4 == 0, "value"] = None
    ev.loc[ev.index % 5 == 0, "props"] = None
    ev.loc[ev.index % 6 == 0, "event_type"] = None

    docs = _base("documents")
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

    em = _base("embeddings")
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
    write(d, {
        "orders": orders,
        "lineitem": li,
        "events": ev,
        "documents": pd.concat([docs, nd], ignore_index=True),
        "embeddings": em,
    })


def orphans(d: str) -> None:
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
    ev = _base("events")
    uids = list(ev["user_id"])
    ev["user_id"] = [
        90000000 + i if i % 10 in (0, 1, 2) else u for i, u in enumerate(uids)
    ]

    li = _base("lineitem")
    oks = list(li["l_orderkey"])
    li["l_orderkey"] = [
        900000000 + i if i % 7 == 0 else k for i, k in enumerate(oks)
    ]

    od = _base("orders")
    cks = list(od["o_custkey"])
    od["o_custkey"] = [
        90000000 + i if i % 9 == 0 else k for i, k in enumerate(cks)
    ]
    write(d, {"events": ev, "lineitem": li, "orders": od})


def timewarp(d: str) -> None:
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
    ev = _base("events")
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

    o = _base("orders")
    od = list(o["o_orderdate"])
    for i in range(0, len(od), 11):
        od[i] = pd.Timestamp("1968-06-15")
    o["o_orderdate"] = od
    write(d, {"events": ev, "orders": o})


def tiny(d: str) -> None:
    """Referentially-intact minimal tables: joins still produce (few)
    rows, empty groups exist, every sketch/model trains on fewer points
    than its capacity."""
    nation = _base("nation").head(6)
    cust = _base("customer")
    cust = cust[cust["c_nationkey"].isin(nation["n_nationkey"])].head(2)
    supp = _base("supplier").head(2)
    part = _base("part").head(3)
    orders = _base("orders")
    orders = orders[orders["o_custkey"].isin(cust["c_custkey"])].head(4)
    li = _base("lineitem")
    li = li[
        li["l_orderkey"].isin(orders["o_orderkey"])
        & li["l_suppkey"].isin(supp["s_suppkey"])
        & li["l_partkey"].isin(part["p_partkey"])
    ]
    if len(li) < 2:  # keep at least a couple of lines even if keys miss
        li = _base("lineitem")
        li = li[li["l_orderkey"].isin(orders["o_orderkey"])].head(3)
    ev = _base("events")
    ev_hit = ev[ev["user_id"].isin(cust["c_custkey"])].head(4)
    ev = pd.concat([ev_hit, ev.head(2)]).drop_duplicates("event_id")
    write(d, {
        "region": _base("region"),
        "nation": nation,
        "customer": cust,
        "supplier": supp,
        "part": part,
        "orders": orders,
        "lineitem": li,
        "events": ev,
        "documents": _base("documents").head(4),
        "embeddings": _base("embeddings").head(6),
    })


def wide(d: str) -> None:
    """Many-row-group corpus (--wide): every base table permuted and cut
    into perfbench's ``WIDE_ROW_GROUPS`` (64) row groups, so a scan
    splits into several tasks once the split size is below the file
    size (:func:`scan_partitions`)."""
    for t in TABLE_NAMES:
        write_table(BASE, d, t, SEED, "wide")


def permuted(d: str) -> None:
    """Row-permuted corpus (--permuted): every base table's rows in a
    fixed random order, one row group per file as shipped — the class
    where an op's answer depends on the file's row order."""
    for t in TABLE_NAMES:
        write_table(BASE, d, t, SEED, "shipped")


def scan_partitions(spark, d: str) -> int:
    """Lineitem's scan partitions on the corpus at ``d``.  On a corpus
    with many-row-group files it first lowers the session's split size
    (``spark.sql.files.maxPartitionBytes``) to the largest file over
    ``defaultParallelism``: under Spark's default 128 MB (4 MB minimum
    split) every file at test scale reads as one task, whatever its row
    groups.  There it aborts when lineitem still scans in fewer than
    ``defaultParallelism`` partitions: a wide run that does not split
    tests nothing a shipped corpus does not."""
    paths = [f"{d}/{t}.parquet" for t in TABLE_NAMES]
    many = any(pq.ParquetFile(p).metadata.num_row_groups > 1 for p in paths)
    want = spark.sparkContext.defaultParallelism
    if many:
        split = max(1, max(os.path.getsize(p) for p in paths) // want)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    n = read_parquet(spark, f"{d}/lineitem.parquet").rdd.getNumPartitions()
    if many and n < want:
        raise SystemExit(
            f"lineitem scans in {n} partition(s) on the many-row-group corpus "
            f"{d}, below defaultParallelism={want}: the run would test no split"
        )
    return n


MODES = {None: degenerate} | {
    f"--{build.__name__}": build
    for build in (
        tiny, unicode, ties, nonfinite, nulls, timewarp, magnitude, dupkeys,
        empty, badjson, bigdoc, ctrlchars, mixdim, skew, orphans, wide, permuted,
    )
}

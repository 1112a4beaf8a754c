"""Extended near-duplicate detection: n-gram Jaccard, SimHash, and
embedding-cosine near-dup (beyond SURVEY §2's exact + MinHash/LSH pair —
the full dedup toolkit a training-data pipeline needs).

Scale posture mirrors llm_text.py: candidate generation is always
bucket-local (LSH bands / SimHash band pigeonholing / probe-bounded
scans) — never an unbounded cross join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from un_datapipeline_spark import scale
from un_datapipeline_spark.session import ckpt
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import (
    SIG_PREFIX_CHARS,
    capped_text,
    capped_text_sql,
    load_table,
    winner_document,
    winner_document_sql,
    ngram_zip_sql,
)

# --------------------------------------------------------------------------
# Linear k-gram builds
# --------------------------------------------------------------------------

def ngram_array(toks, k: int, sep: str = " "):
    """k-gram array of the element array ``toks`` via shifted-slice
    ``zip_with`` — NEVER via a ``transform(sequence(...), i ->
    element_at(toks, i))`` index lambda: an outer expression referenced
    INSIDE a higher-order-function lambda body is re-evaluated PER
    ELEMENT, so when ``toks`` is ``split(text)`` the gram build costs
    O(len * split_cost) = O(len²) per document — measured 78 s for ONE
    64 KB document (round-10 bigdoc probe: the quadratic re-evaluation,
    not gram volume, was the true straggler mechanism; the
    explode-an-index-then-slice-the-array-column variant is quadratic
    too, because every exploded row materializes its own copy of the
    array column).  ``slice``/``zip_with`` ARGUMENTS are ordinary
    expressions evaluated once per row; only the lambda bodies (O(1)
    concats of bound elements) run per element.  Inputs shorter than k
    yield an empty array, matching the oracles' NULL-gram drop."""
    ln = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, ln) for i in range(k)]
    out = parts[-1]
    for p in reversed(parts[:-1]):
        out = F.zip_with(p, out, lambda a, b: F.concat_ws(sep, a, b))
    return out


def trigram_array(toks):
    """Word-trigram array (see :func:`ngram_array` for why this shape)."""
    return ngram_array(toks, 3)


# --------------------------------------------------------------------------
# The gram-overlap family: the word-trigram build and the DuckDB twins of
# the scale.drop_hot / scale.co_occurrence kernel, each beside its Spark
# side (the llm_vectors.valid_vec / valid_vec_sql pairing).  An op picks
# whether to cap document frequency and its pair predicate; only its
# score and threshold are its own.
# --------------------------------------------------------------------------

# Pair predicates for gram_overlap / gram_overlap_sql, over the x (a)
# and y (b) sides: probe docs vs every later doc, a new batch vs the
# existing base, and every unordered pair.
PROBE_PAIRS = "x.doc_id < 100 AND x.doc_id < y.doc_id"
BATCH_PAIRS = "x.doc_id >= 400 AND y.doc_id < 400"
ALL_PAIRS = "x.doc_id < y.doc_id"

# Jaccard over gram_overlap's (shared, na, nb), one text for both engines.
JACCARD = "CAST(shared AS DOUBLE) / (na + nb - shared)"


def doc_trigrams(d: DataFrame) -> DataFrame:
    """(doc_id, gram): each document's distinct word trigrams over its
    capped text prefix (bounded-prefix signature contract).  A gram set
    is keyed by doc_id, so ``d`` goes through the per-key winner
    (duplicate-key contract): two texts under one re-crawled id never
    union their grams, and a gram counts once per doc_id on both
    engines.  The winner's exchange on doc_id also spreads a one-task
    scan before the per-row gram build."""
    grams_arr = trigram_array(F.split(capped_text(), " "))
    return winner_document(d).select(
        "doc_id", F.explode(F.array_distinct(grams_arr)).alias("gram")
    )


def doc_trigrams_sql() -> str:
    """DuckDB mirror of :func:`doc_trigrams` over the per-key winner.
    Documents shorter than three tokens index past the list end and
    yield one NULL gram, the only row the filter drops: tokens come from
    a split on ' ', so a non-NULL gram always has exactly three parts
    (tests/test_degenerate_robustness.py pins both engines' sets)."""
    return f"""
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(toks) - 2, 1)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
    FROM (SELECT doc_id, string_split({capped_text_sql()}, ' ') AS toks
          FROM {winner_document_sql()} documents)
  ) WHERE gram IS NOT NULL"""


def drop_hot_grams_sql() -> str:
    """DuckDB mirror of ``scale.drop_hot(grams, ["gram"])`` over relation
    ``grams``: the same MAX_GRAM_DF hub cap, the one other place that
    compares a document frequency with it."""
    return f"""
  SELECT g.* FROM grams g WHERE g.gram NOT IN (
    SELECT gram FROM grams GROUP BY gram HAVING count(*) > {scale.MAX_GRAM_DF})"""


def gram_overlap(grams: DataFrame, pairs: str) -> DataFrame:
    """(a, b, shared, na, nb): document pairs meeting ``pairs`` that
    share at least one gram (scale.co_occurrence over the distinct
    (doc_id, gram) rows), their shared-gram count and both gram-set
    sizes."""
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        scale.co_occurrence(grams, "doc_id", ["gram"], pairs)
        .join(sizes.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select("a", "b", "shared", F.col("sa.n").alias("na"), F.col("sb.n").alias("nb"))
    )


def gram_overlap_sql(grams: str, pairs: str) -> str:
    """DuckDB mirror of :func:`gram_overlap` over relation ``grams``: its
    ``inter`` CTE is the scale.co_occurrence self-join."""
    return f"""
  WITH sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {grams} GROUP BY doc_id
  ), inter AS (
    SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
    FROM {grams} x JOIN {grams} y ON x.gram = y.gram AND {pairs}
    GROUP BY x.doc_id, y.doc_id
  )
  SELECT a, b, shared, sa.n AS na, sb.n AS nb FROM inter
  JOIN sizes sa ON sa.doc_id = a
  JOIN sizes sb ON sb.doc_id = b"""


# --------------------------------------------------------------------------
# Word 3-gram Jaccard similarity (probe-bounded exact computation)
# --------------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH grams AS ({doc_trigrams_sql()}
), gf AS ({drop_hot_grams_sql()}
), overlap AS ({gram_overlap_sql("gf", PROBE_PAIRS)}
)
SELECT a, b, ROUND({JACCARD}, 6) AS jac FROM overlap WHERE {JACCARD} >= 0.5
"""


@register("llm_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tier="T3")
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard ≥ 0.5 pairs for probe docs (doc_id <
    100) vs all later docs.  The gram-equality join only meets rows
    sharing a gram — shuffle keyed by gram, the classic verification
    stage downstream of MinHash candidates.

    Skew guard (round-3 verdict item 5): grams with document frequency
    > MAX_GRAM_DF are dropped on BOTH sides (Spark and oracle) before
    the join, so no shuffle bucket can exceed MAX_GRAM_DF² candidate
    pairs at any corpus size (scale.drop_hot).  Jaccard sizes are
    computed over the same capped gram sets, keeping the metric
    internally consistent.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 2): the
    per-doc gram SET is keyed by doc_id — two different texts under one
    re-crawled id union their shingles and the Jaccard leaves [0,1]
    (probed: 1.878, a silent wrong answer).  The deterministic
    per-key winner (tables.winner_document, mirrored in the oracle)
    restores set semantics; 0 <= jac <= 1 is pytest-pinned."""
    d = load_table(spark, sf_dir, "documents")
    overlap = gram_overlap(scale.drop_hot(doc_trigrams(d), ["gram"]), PROBE_PAIRS)
    jac = F.expr(JACCARD)
    return overlap.filter(jac >= 0.5).select("a", "b", F.round(jac, 6).alias("jac"))


# --------------------------------------------------------------------------
# SimHash (64-bit) with 4×16-bit band pigeonholing
# --------------------------------------------------------------------------

N_BITS = 64
N_BANDS = 4
BAND_BITS = N_BITS // N_BANDS
MAX_HAMMING = 3  # pigeonhole: ≤3 differing bits ⇒ ≥1 of 4 bands identical


def simhash_bands(d: DataFrame) -> DataFrame:
    """One row per doc: 4 × 16-bit SimHash band values.

    bit_i = sign of Σ_words (±1 by bit i of xxhash64(word)); each band
    packs 16 bits into an int via the bit-weighted sum (no 64-bit
    overflow, ANSI-safe).  One explode + one groupBy with 64 conditional
    sums — a single shuffle keyed by doc_id.
    """
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).filter(F.col("w") != "")
    h = F.xxhash64("w")
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(N_BITS)
    ]
    sig = words.groupBy("doc_id").agg(*votes)
    band_cols = []
    for b in range(N_BANDS):
        expr = F.lit(0)
        for j in range(BAND_BITS):
            i = b * BAND_BITS + j
            expr = expr + F.when(F.col(f"v{i}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        band_cols.append(expr.alias(f"band{b}"))
    return sig.select("doc_id", *band_cols)


def simhash_near_pairs(bands: DataFrame) -> DataFrame:
    """(a, b, hamming) pairs within MAX_HAMMING bits, found by joining on
    any equal band (bucket-local, sub-quadratic) then verifying the exact
    Hamming distance over all 4 bands with bit_count(xor)."""
    matches = None
    for b in range(N_BANDS):
        left = bands.select(
            F.col("doc_id").alias("a"),
            *[F.col(f"band{i}").alias(f"a{i}") for i in range(N_BANDS)],
        )
        right = bands.select(
            F.col("doc_id").alias("b"),
            *[F.col(f"band{i}").alias(f"b{i}") for i in range(N_BANDS)],
        )
        m = left.join(right, (F.col(f"a{b}") == F.col(f"b{b}")) & (F.col("a") < F.col("b")))
        matches = m if matches is None else matches.unionByName(m)
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(N_BANDS)
    )
    return (
        matches.dropDuplicates(["a", "b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("a", "b", "hamming")
    )


@register("llm_dedup_simhash", oracle=None, tier="T3")
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 64 bits) via 4-band
    pigeonhole candidate generation.  Rows-only (xxhash64 signatures
    aren't oracle-portable); identical-text invariants asserted in
    tests/test_llm_invariants.py."""
    d = load_table(spark, sf_dir, "documents")
    # the band table feeds BOTH sides of all 4 band joins (8 consumers);
    # materialize the tiny (doc, 4 ints) signature table once so the
    # explode + 64-conditional-sum aggregation behind it runs once
    return simhash_near_pairs(simhash_bands(d).transform(ckpt())).orderBy("a", "b")


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------

_DOT = (
    "list_aggregate(list_transform(list_zip(a.embedding, b.embedding), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_NA = (
    "sqrt(list_aggregate(list_transform(a.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)
_NB = (
    "sqrt(list_aggregate(list_transform(b.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)

# NULL-vector contract mirror (round 9): the ONE predicate definition,
# llm_vectors.valid_vec_sql — DuckDB list aggregates SKIP NULL elements,
# so without it a corrupt vector would get a partial norm instead of
# being excluded like cosine_topk's Spark-side filter does.
from un_datapipeline_spark.operators.llm_vectors import valid_vec_sql as _vv

_EMB_DEDUP_ORACLE = f"""
SELECT a_id, nn_id, ROUND(sim, 6) AS sim,
       CAST(sim >= 0.9 AS INT) AS is_near_dup
FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS nn_id,
         {_DOT} / ({_NA} * {_NB}) AS sim,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_DOT} / ({_NA} * {_NB}) DESC, b.vec_id) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 100
    AND {_vv("a.embedding")} AND {_vv("b.embedding")}
    AND {_NA} > 0 AND {_NB} > 0
)
WHERE rn = 1
"""


@register("llm_dedup_embedding", oracle=_EMB_DEDUP_ORACLE, tier="T3")
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup audit: each probe's single nearest
    neighbor by cosine plus a ≥0.9 near-dup flag — the semantic-dedup
    screen run after exact/MinHash text dedup.  Uses the broadcast-probe
    matmul scan (llm_vectors.cosine_topk)."""
    from un_datapipeline_spark.operators.llm_vectors import cosine_topk

    em = load_table(spark, sf_dir, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    top = cosine_topk(em, probes, k=1, exclude_self=True)
    return top.select(
        "a_id",
        "nn_id",
        F.round("sim", 6).alias("sim"),
        (F.col("sim") >= 0.9).cast("int").alias("is_near_dup"),
    )


# --------------------------------------------------------------------------
# LSH-bucketed similarity search (the scale path past brute force)
# --------------------------------------------------------------------------


LSH_PLANES = 8  # bucket id bits (see hyperplane_buckets)


def hyperplane_buckets(em: DataFrame) -> DataFrame:
    """Sign-random-projection bucket id per vector: fixed pseudo-random
    hyperplanes → n-bit bucket.  Bucketing is a per-row dot product in
    Column math — one scan, no shuffle, no driver action.

    Hyperplane coefficients come from a deterministic sin-hash
    (fract(sin(i·12.9898 + p·78.233 + 42)·43758.5453)·2−1 — the
    classic shader-noise construction): coefficient (plane, index) is a
    pure function evaluated inside the JVM lambda, so the plane matrix
    never touches the driver and the code is embedding-dimension-
    agnostic (the round-1 version collected one row just to learn the
    dim — flagged in VERDICT.md).  SRP only needs *fixed* directions
    spread over the sphere, not high-quality randomness.  LSH_PLANES=8 → 256
    buckets, sized so test-corpus buckets hold a handful of candidates;
    at 100 TB raise planes (and add multi-probe) to keep bucket
    occupancy bounded."""

    def coeff(p: int, i):
        t = F.sin(i.cast("double") * 12.9898 + F.lit(float(p)) * 78.233 + F.lit(42.0))
        t = t * 43758.5453
        return (t - F.floor(t)) * 2.0 - 1.0

    def proj(p: int):
        # two-arg (element, index) lambda — PySpark passes the element
        # index to arity-2 callables, which is exactly what coeff needs
        return lambda x, i: x.cast("double") * coeff(p, i)

    bucket = F.lit(0)
    for p in range(LSH_PLANES):
        dot = F.aggregate(
            F.transform("embedding", proj(p)), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return em.withColumn("bucket", bucket)


def bucket_cosine_best(em: DataFrame, flip_bits=()) -> DataFrame:
    """Best in-bucket cosine neighbor for each probe (vec_id < 100):
    (a_id, n_cands, nn_id, sim).  Each probe searches its own
    sign-random-projection bucket plus the bucket with each bit in
    ``flip_bits`` flipped (multi-probe); the same pair surfacing via two
    buckets counts once.

    Vector-validity + zero-norm exclusion (round 10): cosine is
    undefined for the zero vector, and one zero probe sharing a bucket
    with any candidate is an ANSI DIVIDE_BY_ZERO — the engine-wide
    round-6 norm>0 rule applies to the bucketed path exactly as to the
    brute-force baseline (exposed when the degenerate corpus went
    EMBED_DIM-wide and the zero vector gained bucket-mates).  Both
    predicates are native collection expressions, never an interpreted
    F.exists lambda on the scan side (llm_vectors.valid_vec)."""
    from un_datapipeline_spark.operators.llm_vectors import (
        dot,
        l2_norm,
        top_per_probe,
        valid_vec,
    )

    b = hyperplane_buckets(em.filter(valid_vec()).filter(l2_norm() > 0))
    buckets = [F.col("bucket")] + [F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in flip_bits]
    probes = b.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.explode(F.array(*buckets)).alias("bucket"),
    )
    cands = b.select(F.col("vec_id").alias("nn_id"), "embedding", "bucket")
    sim = dot("a_emb", "embedding") / (l2_norm("a_emb") * l2_norm("embedding"))
    pairs = (
        F.broadcast(probes)
        .join(cands, "bucket")
        .filter(F.col("a_id") != F.col("nn_id"))
        .select("a_id", "nn_id", sim.alias("sim"))
    )
    if flip_bits:  # the same pair may surface via 2 buckets
        pairs = pairs.groupBy("a_id", "nn_id").agg(F.max("sim").alias("sim"))
    return (
        top_per_probe(pairs, 1, n_cands=True)
        .select("a_id", "n_cands", "nn_id", F.round("sim", 6).alias("sim"))
        .orderBy("a_id")
    )


@register("llm_simsearch_lsh", oracle=None, tier="T3")
def llm_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbor via sign-random-projection LSH:
    probes (vec_id < 100) search ONLY their own bucket — the
    sub-quadratic scale path where brute force (llm_simsearch_cosine_
    topk) is the exact baseline.  Rows-only: bucket membership depends
    on float sign evaluations near hyperplanes; approximate-by-design.
    Output: probe, candidate count in bucket, best in-bucket neighbor
    (bucket_cosine_best)."""
    return bucket_cosine_best(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Exact-substring duplication scoring (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better", ExactSubstr — window form)
# --------------------------------------------------------------------------

# Token-window width.  Lee et al. use 50-token spans on web-scale text;
# the synthetic corpus' docs are 10-99 tokens, so 8 keeps the detector
# meaningful at test scale.  The algorithm is width-independent.
SUBSTR_WINDOW = 8

_SUBSTR_ORACLE = f"""
WITH t AS (
  -- linear 8-gram build: tables.ngram_zip_sql (the LATERAL slice form
  -- copies an O(len) list per row — quadratic)
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n FROM documents
), w AS (
  SELECT doc_id, unnest({ngram_zip_sql("t", "n")}) AS g
  FROM t WHERE n >= {SUBSTR_WINDOW}
), dupg AS (
  SELECT g FROM w GROUP BY g HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT)                                    AS n_windows,
       CAST(sum(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       ROUND(sum(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6)                                        AS dup_frac
FROM w LEFT JOIN dupg d USING (g)
GROUP BY w.doc_id
HAVING sum(CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


@register("llm_dedup_substr", oracle=_SUBSTR_ORACLE, tier="T3")
def llm_dedup_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication detector: every ``SUBSTR_WINDOW``-token
    sliding window is hashed across the corpus; a window text seen in ≥2
    distinct documents is duplicated, and each document is scored by the
    fraction of its windows that are duplicated (the ExactSubstr signal
    used to cut verbatim-repeated training spans).

    Scale shape: the window explode is linear in corpus tokens; the
    duplicated-window set is found with a count AGGREGATE on the window
    key (map-side partial combine, never a self-join), and the score
    join is equi-key with ≤1 match per probe row — so no shuffle bucket
    is ever quadratic, unlike naive pairwise substring comparison.  At
    100 TB the window strings would be replaced by 64-bit hashes before
    the shuffle (same plan, 8-byte keys); test scale keeps the raw text
    so the DuckDB oracle can replay it exactly."""
    w = SUBSTR_WINDOW
    docs = load_table(spark, sf_dir, "documents")
    # linear window build (ngram_array): the transform-lambda slice over
    # the aliased token column inlines the split back into the lambda —
    # O(words²) per doc; ngram_array yields an empty array below w
    # tokens, so the old size >= w filter is structural now
    wins = docs.select(
        "doc_id",
        F.explode(ngram_array(F.split("text", " "), w)).alias("g"),
    )
    dupg = (
        wins.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("is_dup"))
    )
    return (
        wins.join(dupg, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Containment (asymmetric Jaccard) — sub-document duplication
# --------------------------------------------------------------------------

_CONTAINMENT = "CAST(shared AS DOUBLE) / least(na, nb)"

_CONTAIN_ORACLE = f"""
WITH grams AS ({doc_trigrams_sql()}
), gf AS ({drop_hot_grams_sql()}
), overlap AS ({gram_overlap_sql("gf", PROBE_PAIRS)}
)
SELECT a, b, ROUND({_CONTAINMENT}, 6) AS containment
FROM overlap WHERE {_CONTAINMENT} >= 0.6
"""


@register("llm_dedup_containment", oracle=_CONTAIN_ORACLE, tier="T3")
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram CONTAINMENT ≥ 0.6 pairs: |grams(a) ∩ grams(b)| / min(|a|,|b|)
    — the asymmetric cousin of Jaccard that catches a short document
    embedded verbatim inside a long one, where Jaccard stays low because
    the union is dominated by the long side (the quote/excerpt/
    template-instantiation duplication class Broder's containment
    measure exists for).  Identical scale posture to
    llm_dedup_ngram_jaccard: df-capped grams (no hot shuffle key, every
    bucket ≤ MAX_GRAM_DF² pairs), probe-bounded left side, and the only
    change is the denominator — min(sizes) instead of union.

    Duplicate-key contract (round 10, same as jaccard above): without
    the deterministic per-key winner, a re-crawled doc_id merges two
    texts' gram sets and containment leaves [0,1] (probed: 2.0 — a
    silent wrong answer)."""
    d = load_table(spark, sf_dir, "documents")
    overlap = gram_overlap(scale.drop_hot(doc_trigrams(d), ["gram"]), PROBE_PAIRS)
    contain = F.expr(_CONTAINMENT)
    return overlap.filter(contain >= 0.6).select(
        "a", "b", F.round(contain, 6).alias("containment")
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# --------------------------------------------------------------------------

_INCR_ORACLE = f"""
WITH base AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
), batch AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
), exact AS (
  SELECT b.doc_id, min(ba.doc_id) AS match_id
  FROM batch b JOIN base ba ON b.h = ba.h
  GROUP BY b.doc_id
), grams AS ({doc_trigrams_sql()}
), gf AS ({drop_hot_grams_sql()}
), overlap AS ({gram_overlap_sql("gf", BATCH_PAIRS)}
), near AS (
  SELECT a AS doc_id, min(b) AS match_id
  FROM overlap WHERE {JACCARD} >= 0.5
  GROUP BY a
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near'
            ELSE 'new' END AS dup_kind,
       COALESCE(e.match_id, n.match_id, -1) AS match_id
FROM batch b
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near n ON b.doc_id = n.doc_id
ORDER BY b.doc_id
"""


@register("llm_dedup_incremental", oracle=_INCR_ORACLE, tier="T3")
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: classify every NEW document (the
    batch, doc_id ≥ 400) against the EXISTING corpus (doc_id < 400) as
    'exact' (hash match), 'near' (word-3-gram Jaccard ≥ 0.5 against any
    base doc), or 'new' — WITHOUT ever comparing base docs to each
    other.  This is the shape that matters at 100 TB: a daily crawl
    drop dedups against the accumulated corpus index (hash join on
    content digest + df-capped gram join), touching base-side state
    only through those two key-partitioned indexes — never re-running
    corpus×corpus dedup.  Candidate buckets stay ≤ MAX_GRAM_DF² by the
    same cap as llm_dedup_ngram_jaccard; exact matches take min(base
    id) as the canonical pointer, near matches likewise."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    exact = (
        batch.select("doc_id", F.md5("text").alias("h"))
        .join(
            base.select(F.col("doc_id").alias("base_id"), F.md5("text").alias("h")),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("base_id").alias("exact_match"))
    )
    # gram SIGNATURE lane is prefix-capped (bounded-prefix contract);
    # the exact lane above stays whole-document md5 by design
    near = (
        gram_overlap(scale.drop_hot(doc_trigrams(d), ["gram"]), BATCH_PAIRS)
        .filter(F.expr(JACCARD) >= 0.5)
        .groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("near_match"))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "exact")
            .when(F.col("near_match").isNotNull(), "near")
            .otherwise("new")
            .alias("dup_kind"),
            F.coalesce("exact_match", "near_match", F.lit(-1)).alias("match_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup
# ---------------------------------------------------------------------------

# Synthetic-but-deterministic URL per doc (the testdata carries no URL
# column): the same (source, doc_id % 50) page rendered in one of four
# surface variants — bare, www + trailing slash, uppercase + tracking
# params, fragment — chosen by doc_id % 4.  Both engines build the SAME
# string, so canonicalization itself is what the hash match certifies.
_URL_VARIANT_SQL = """
CASE doc_id % 4
  WHEN 0 THEN 'https://' || source || '.example.com/p/'
              || CAST(doc_id % 50 AS STRING)
  WHEN 1 THEN 'https://www.' || source || '.example.com/p/'
              || CAST(doc_id % 50 AS STRING) || '/'
  WHEN 2 THEN 'HTTP://' || upper(source) || '.EXAMPLE.COM/p/'
              || CAST(doc_id % 50 AS STRING) || '?utm_source=feed&ref=rss'
  ELSE        'https://' || source || '.example.com/p/'
              || CAST(doc_id % 50 AS STRING) || '#section-2'
END
"""

_URL_DEDUP_ORACLE = f"""
WITH urls AS (
  SELECT doc_id, {_URL_VARIANT_SQL} AS url FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://', ''),
               '^www\\.', ''),
             '[?#].*$', ''),
           '/+$', '') AS canonical_url
  FROM urls
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT)   AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM canon
GROUP BY canonical_url
HAVING count(*) > 1
ORDER BY canonical_url
"""


@register("llm_dedup_url", oracle=_URL_DEDUP_ORACLE, tier="T3")
def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup stage of a web-crawl pipeline
    (CommonCrawl-style), running before any text is even fetched: URLs
    are canonicalized (lowercase; scheme, www., query/fragment and
    trailing slashes stripped) and exact-grouped, keeping the minimum
    doc_id per canonical page.  Four surface variants of the same page
    (case, www, tracking params, fragments) must collapse to one key.

    Scale shape: canonicalization is four chained regexp_replace column
    expressions (anchored patterns — identical first-match semantics in
    Java regex and RE2), and the dedup is one hash aggregate on the
    canonical string — the cheapest dedup in the ladder, which is
    exactly why crawls run it first: it prunes refetches before the
    expensive content-level stages (exact md5 → MinHash → SemDeDup)."""
    d = load_table(spark, sf_dir, "documents")
    url = F.expr(_URL_VARIANT_SQL)
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), "^https?://", ""),
                "^www\\.",
                "",
            ),
            "[?#].*$",
            "",
        ),
        "/+$",
        "",
    )
    return (
        d.select(canon.alias("canonical_url"), "doc_id")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Cross-doc line dedup with document reconstruction (RefinedWeb/CCNet pass)
# ---------------------------------------------------------------------------

_LINE_W = 4      # words per pseudo-line (flat word-soup corpus has no \n)
_LINE_DF_CAP = 3  # a line present in more than this many docs is boilerplate

# KNOWN-COST LANE (VERDICT r10 item 7, measured round 10): the oracle's
# `lines` CTE is the one remaining LATERAL slice pattern in any oracle —
# 5.3 s on the 520 KB-doc bigdoc corpus, tolerated because the slice is
# a FIXED 4-element window and the row count is the capped line grid.
# If the bigdoc timing ever grows past ~10 s, rewrite as a zip of
# _LINE_W shifted slices (tables.ngram_zip_sql pattern, ' ' join).

_LINE_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, source, string_split({capped_text_sql()}, ' ') AS ws,
         len(string_split({capped_text_sql()}, ' ')) AS n
  FROM {winner_document_sql()} documents
), lines AS (
  SELECT doc_id, source, g,
         array_to_string(ws[g * {_LINE_W} + 1 : g * {_LINE_W} + {_LINE_W}], ' ')
           AS line
  -- series bound covers the contract maximum: consecutive spaces make
  -- EMPTY tokens, so a SIG_PREFIX_CHARS prefix can split into up to
  -- SIG_PREFIX_CHARS+1 tokens = SIG_PREFIX_CHARS/4 + 1 lines (review
  -- catch: the one-char-word bound under-counted 2x; a short bound
  -- silently truncates the oracle's line grid where Spark's
  -- data-sized chunking emits every line)
  FROM w JOIN generate_series(0, {SIG_PREFIX_CHARS // _LINE_W + 1}) t(g)
    ON g < CAST(ceil(n / {_LINE_W}.0) AS INT)
), boiler AS (
  SELECT line FROM lines GROUP BY line
  HAVING count(DISTINCT doc_id) > {_LINE_DF_CAP}
), kept AS (
  SELECT l.doc_id, l.source, l.g, l.line
  FROM lines l ANTI JOIN boiler b ON l.line = b.line
), rebuilt AS (
  SELECT w.doc_id, w.source,
         coalesce(string_agg(k.line, ' ' ORDER BY k.g), '') AS cleaned
  FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id
  GROUP BY w.doc_id, w.source
)
-- IS NOT DISTINCT FROM (round 9, class 2): a NULL source is a real
-- stratum — plain equality would zero its line counts while the group
-- row itself survives, silently mislabeling its boilerplate stats.
SELECT r.source,
       CAST(count(*) AS BIGINT)                        AS n_docs,
       CAST((SELECT count(*) FROM lines li
             WHERE li.source IS NOT DISTINCT FROM r.source)
            AS BIGINT)                                 AS lines_total,
       CAST((SELECT count(*) FROM lines li
             WHERE li.source IS NOT DISTINCT FROM r.source
               AND li.line IN (SELECT line FROM boiler)) AS BIGINT)
         AS lines_removed,
       CAST(sum(len(cleaned)) AS BIGINT)               AS chars_after,
       md5(string_agg(md5(cleaned), '' ORDER BY doc_id)) AS corpus_digest
FROM rebuilt r GROUP BY r.source ORDER BY r.source
"""


@register("llm_line_dedup_reconstruct", oracle=_LINE_DEDUP_ORACLE, tier="T3")
def llm_line_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE dedup with reconstruction — the
    RefinedWeb/CCNet boilerplate pass that MODIFIES documents instead of
    dropping them: chunk each doc into fixed-width pseudo-lines (this
    corpus is flat word soup, so 4-word chunks stand in for newlines),
    count each distinct line's document frequency, strip every line
    appearing in more than {cap} docs (nav bars, cookie banners, shared
    footers at web scale), and REASSEMBLE the surviving lines in
    original order.  The per-source digest (md5 of doc-ordered cleaned
    md5s) makes the hash match certify the rebuilt documents byte-for-
    byte — not just the removal counts.

    Scale shape: explode to lines (bounded ×n/4), one hash agg for DF,
    anti-join against the (tiny, broadcastable) boilerplate set, and an
    ordered within-doc listagg to rebuild — every step keyed, nothing
    quadratic.  This sits between llm_boilerplate_ngrams (detection
    only) and llm_dedup_exact (whole-doc) in the dedup ladder: it is
    the stage that recovers PARTIAL value from contaminated docs.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 2): the
    rebuild groups lines by doc_id — a re-crawled id interleaves two
    texts' lines into one garbled document and the corpus digest
    diverges.  Deterministic per-key winner on both sides."""
    d = winner_document(load_table(spark, sf_dir, "documents"))
    # Round-13 (guide §1.2/§2.5): the deduped corpus feeds FIVE consumers
    # (boiler, kept, removed, per_src_lines, rebuilt's spine), each
    # re-running the winner window + line chunking — and the window's
    # shuffle coalesces to one partition at test scale, so every chunk
    # evaluation was serial.  Spread once, materialize once (DISK_ONLY —
    # winner output is ≤ corpus-sized, the r12 materialization rule);
    # every consumer then reads distributed, pinned rows.  Solo noop
    # 3.52 → 2.73 s; at scale this is 1 winner pass instead of ≥2
    # (broadcast-build jobs cannot reuse the main job's exchange).
    d = d.repartition(spark.sparkContext.defaultParallelism).transform(
        ckpt(storage_level=StorageLevel.DISK_ONLY)
    )
    # prefix-capped (bounded-prefix contract): the line DF index and the
    # rebuilt/digested text consider the first SIG_PREFIX_CHARS — one
    # 520 KB outlier otherwise stalls the per-doc explode+reassemble
    # lane >90 s (the job-tail straggler class)
    words = F.split(capped_text(), " ")
    # Linear line chunking: full lines are every _LINE_W-th entry of the
    # overlapping _LINE_W-gram array (two-arg filter binds the gram
    # array; the index check is O(1)), plus the short tail chunk built
    # from one bound slice.  The old index-lambda slice(words, g*4+1, 4)
    # re-evaluated the split per line (see ngram_array).
    nw = F.size(words)
    tail_len = nw % _LINE_W
    full_lines = F.filter(
        ngram_array(words, _LINE_W), lambda x, i: i % _LINE_W == 0
    )
    tail = F.when(
        tail_len != 0,
        F.array(F.concat_ws(" ", F.slice(words, nw - tail_len + 1, tail_len))),
    ).otherwise(F.array().cast("array<string>"))
    lines = d.select(
        "doc_id",
        "source",
        F.posexplode(F.concat(full_lines, tail)).alias("g", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > _LINE_DF_CAP)
        .select("line")
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti").select(
        "doc_id", "g", "line"
    )
    rebuilt = (
        d.select("doc_id", "source")
        .join(kept, "doc_id", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.coalesce(
                F.expr("listagg(line, ' ') WITHIN GROUP (ORDER BY g)"), F.lit("")
            ).alias("cleaned")
        )
    )
    removed = lines.join(F.broadcast(boiler), "line", "left_semi")
    # eqNullSafe joins + LEFT + coalesce(0) (round 9, class 2): a NULL
    # source is a real stratum (its line counts must attach to its group,
    # not vanish on the NULL join key), and a source whose docs are all
    # NULL-text has ZERO lines — an inner join dropped its group row
    # entirely while the oracle kept it with lines_total = 0.
    per_src_lines = lines.groupBy(F.col("source").alias("src_l")).agg(
        F.count(F.lit(1)).alias("lines_total")
    )
    per_src_removed = removed.groupBy(F.col("source").alias("src_r")).agg(
        F.count(F.lit(1)).alias("lines_removed")
    )
    return (
        rebuilt.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("cleaned")).cast("long").alias("chars_after"),
            F.md5(
                F.expr("listagg(md5(cleaned), '') WITHIN GROUP (ORDER BY doc_id)")
            ).alias("corpus_digest"),
        )
        .join(per_src_lines, F.col("source").eqNullSafe(F.col("src_l")), "left")
        .join(per_src_removed, F.col("source").eqNullSafe(F.col("src_r")), "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("lines_total"), F.lit(0)).cast("long").alias("lines_total"),
            F.coalesce(F.col("lines_removed"), F.lit(0)).cast("long").alias("lines_removed"),
            "chars_after",
            "corpus_digest",
        )
        .orderBy("source")
    )

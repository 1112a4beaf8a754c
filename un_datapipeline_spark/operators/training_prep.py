"""Training-data preparation operators (round 2 batch 2): the quality /
safety / packing passes a 100 TB LLM corpus pipeline runs between raw
ingest and tokenized shards.

Scale posture: every candidate-generation step here is keyed by
VOCABULARY or BUCKET (gram hash, prefix block, event_type), never by the
corpus cross product; global orderings use the distributed two-phase
prefix-sum pattern (block-local window + broadcast block offsets), not a
single-partition window; float outputs come from exact integer moments
so both engines evaluate identical IEEE expressions (ROUND_NOTES.md).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import scratch_dir
from un_datapipeline_spark.tables import (
    capped_text_sql,
    cents_col,
    load_table,
    winner_document,
    winner_document_sql,
    ngram_zip_sql,
)

# ---------------------------------------------------------------------------
# Benchmark-contamination check
# ---------------------------------------------------------------------------

_CONTAM_ORACLE = f"""
WITH toked AS (
  -- linear 8-gram build: tables.ngram_zip_sql (the LATERAL slice form
  -- is quadratic per doc — 167 s for ONE 520 KB document, round-10
  -- bigdoc probe)
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, md5(g) AS g FROM (
    SELECT doc_id, unnest({ngram_zip_sql("toks", "n")}) AS g
    FROM toked WHERE n >= 8
  )
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), sh AS (
  SELECT doc_id, count(*) AS n_shared
  FROM grams WHERE g IN (SELECT g FROM eval_grams)
  GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(t.n_grams AS BIGINT)  AS n_grams,
       ROUND(s.n_shared / t.n_grams, 6) AS contaminated_frac,
       CAST(CASE WHEN s.doc_id % 97 = 0 THEN 1 ELSE 0 END AS INT) AS is_eval
FROM sh s JOIN tot t USING (doc_id)
"""


@register("llm_contamination_check", oracle=_CONTAM_ORACLE, tier="T3")
def llm_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination pass: flag corpus documents sharing any
    word-8-gram with the eval set (deterministically: docs with
    doc_id % 97 == 0 stand in for the benchmark suite).  Output: one row
    per overlapping doc with distinct-shared-gram count and overlap
    fraction (int/int division — bit-identical across engines).

    Scale shape: the corpus explodes to (doc, gram) keyed by gram
    VOCABULARY; the eval gram set is benchmark-sized (thousands), so the
    membership probe is a broadcast semi-join against the gram stream —
    one corpus scan, no corpus-keyed shuffle for the probe.  The per-doc
    distinct-gram counts shuffle on doc_id once."""
    d = load_table(spark, sf_dir, "documents")
    from un_datapipeline_spark.operators.dedup_extras import ngram_array

    toks = F.split("text", " ")
    # linear 8-gram build (dedup_extras.ngram_array; short docs yield an
    # empty gram array on both engines) — the explode-index-then-slice
    # pattern copies the token array per exploded row, O(words²) per doc
    gram_arr = F.when(F.size(toks) >= 8, ngram_array(toks, 8)).otherwise(
        F.array().cast("array<string>")
    )
    # distinct() is GLOBAL (not just in-array): a duplicate surrogate
    # key delivers two rows whose gram sets overlap — the per-doc gram
    # SET must union them exactly as the oracle's SELECT DISTINCT does
    # Round-13 (guide §2.5): the 8-gram build + md5 per exploded row is
    # the op's expensive stage and sits directly above a structurally
    # ONE-task scan (single-row-group test file); parallelize_scan
    # spreads it and is a no-op when the scan parallelizes.
    from un_datapipeline_spark.scale import parallelize_scan

    grams = (
        parallelize_scan(d.select("doc_id", "text"))
        .select("doc_id", F.explode(F.array_distinct(gram_arr)).alias("gt"))
        .select("doc_id", F.md5("gt").alias("g"))
        .distinct()
    )
    eval_grams = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    sh = (
        grams.join(F.broadcast(eval_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return sh.join(tot, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_grams",
        F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("contaminated_frac"),
        F.when(F.col("doc_id") % 97 == 0, 1).otherwise(0).cast("int").alias("is_eval"),
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) near-duplicate detection
# ---------------------------------------------------------------------------

# The verify-stage kernel is O(len_a x len_b): even the engine-wide
# 64 KB signature prefix leaves 4e9 cell updates per pair, so the edit-
# distance lane gets its own tighter cap (R10_BIGDOC_PLAN) — 4 KB
# bounds a pair at ~16M cells (< 100 ms) while character-level edit
# similarity over the first 4 KB remains a faithful near-dup verdict
# for prefix-blocked candidates (the block key IS a shared prefix).
# Bitwise-neutral on shipped corpora (docs far under the cap); both
# sides cap, so parity is exact above it.
FUZZY_EDIT_CAP = 4096

# Sorted-neighborhood window inside a block (round-11 skew probe): a
# HOT (lang, prefix) block — 30% of a corpus being near-duplicates of
# one template, the spam/mirror shape — makes the full within-block
# cross quadratic: 150 docs → 11k Levenshtein pairs → the op was the
# one >120 s straggler in the ``--skew --solo`` sweep catalog.  The
# standard production answer (Hernandez & Stolfo's sorted-neighborhood
# method) compares each doc only with its W nearest block neighbors in
# doc_id order, bounding per-block cost at size×W while a duplicate
# CHAIN still connects every member transitively.  W=8 covers the
# largest honest block any corpus ships (ctrlchars: 8), so the pair
# set is bit-identical everywhere except a genuinely hot block — and
# mirrored exactly in the oracle.
FUZZY_NEIGHBORHOOD = 8

_FUZZY_ORACLE = f"""
WITH blocked AS (
  SELECT doc_id, substr(text, 1, {FUZZY_EDIT_CAP}) AS captext, lang,
         substr(text, 1, 32) AS pfx,
         row_number() OVER (PARTITION BY lang, substr(text, 1, 32)
                            ORDER BY doc_id) AS rnk
  FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.captext, b.captext) AS edit_dist,
         -- length() (CHARS) not strlen() (BYTES): Spark F.length counts
         -- characters, and a byte denominator skews sim on multibyte
         -- text (review catch)
         greatest(length(a.captext), length(b.captext), 1) AS max_len
  FROM blocked a JOIN blocked b
    ON a.lang = b.lang AND a.pfx = b.pfx
   AND b.rnk - a.rnk BETWEEN 1 AND {FUZZY_NEIGHBORHOOD}
)
SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist,
       ROUND(1.0 - edit_dist / max_len, 6) AS sim
FROM pairs
WHERE 1.0 - edit_dist / max_len >= 0.8
"""


@register("llm_dedup_fuzzy_edit", oracle=_FUZZY_ORACLE, tier="T3")
def llm_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection with prefix blocking: candidate
    pairs share (lang, first-32-chars), then Levenshtein similarity
    1 - dist/max_len must reach 0.8.  Complements MinHash (set overlap)
    and SimHash (bit sketch) with true character-level edit similarity.

    Scale shape: the self-join is keyed by the (lang, prefix) BLOCK — a
    vocabulary-style shuffle — and within a block only SORTED-
    NEIGHBORHOOD pairs (rank distance <= FUZZY_NEIGHBORHOOD in doc_id
    order) are compared, so per-block cost is size×W, not size² (see
    the FUZZY_NEIGHBORHOOD note: a hot near-dup block was the one
    >120 s straggler in the round-11 skew probe).  The levenshtein
    kernel runs only on surviving candidate pairs and only over each
    text's first FUZZY_EDIT_CAP chars (see the oracle note — O(len²)
    makes one 520 KB outlier a >90 s straggler even under the
    engine-wide 64 KB signature prefix).  At 100 TB, widen blocking
    with several rotated prefix offsets rather than loosening one
    block."""
    from pyspark.sql import Window

    # Window-collect + explode instead of a self-join (round-11 skew
    # probe): with a join, Catalyst pushes the sim>=0.8 filter's
    # LEVENSHTEIN into the join condition, where it runs for every
    # (lang,pfx) equality match BEFORE the cheap neighborhood test —
    # the hot block paid 22.5k full edit distances instead of 1.2k
    # (>300 s vs ~20 s, measured).  Collecting each doc's W preceding
    # block neighbors over the already-sorted window and exploding
    # yields exactly the sorted-neighborhood pairs with no join
    # condition to push into — and reuses the one (lang,pfx) shuffle.
    wprev = (
        Window.partitionBy("lang", "pfx")
        .orderBy("doc_id")
        .rowsBetween(-FUZZY_NEIGHBORHOOD, -1)
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, FUZZY_EDIT_CAP).alias("captext"),
        "lang",
        F.substring("text", 1, 32).alias("pfx"),
    )
    # NULL blocking keys are NOT a block: the window would lump every
    # NULL-lang (or NULL-text) doc into one partition and emit pairs
    # for them, while the oracle's equality join (a.lang = b.lang AND
    # a.pfx = b.pfx) drops NULL keys — the join-based Spark code did
    # too, so this filter restores the original contract (a doc whose
    # language or text is unknown cannot be confidently blocked; at
    # 100 TB, route such docs through lang-id backfill, not dedup).
    # Pinned by the --nulls corpus's NULL-lang near-dup stripe.
    d = d.filter(F.col("lang").isNotNull() & F.col("pfx").isNotNull())
    nb = d.withColumn(
        "prevs",
        F.collect_list(F.struct("doc_id", "captext")).over(wprev),
    )
    pairs = nb.select(
        F.explode("prevs").alias("a"),
        F.col("doc_id").alias("doc_b"),
        F.col("captext").alias("captext_b"),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        "doc_b",
        F.levenshtein(F.col("a.captext"), F.col("captext_b"))
        .cast("long")
        .alias("edit_dist"),
        # the extra 1 arm: a pair of EMPTY documents has max_len 0 and
        # edit_dist 0 — ANSI Spark would DIVIDE_BY_ZERO where DuckDB
        # NULLs (degenerate-corpus sweep, round 6); with the guard the
        # pair scores sim 1.0 on both engines, i.e. a duplicate, which
        # is the right answer for two empty texts.
        F.greatest(
            F.length("a.captext"), F.length("captext_b"), F.lit(1)
        ).alias("max_len"),
    )
    sim = F.lit(1.0) - F.col("edit_dist") / F.col("max_len")
    return pairs.filter(sim >= 0.8).select(
        "doc_a", "doc_b", "edit_dist", F.round(sim, 6).alias("sim")
    )


# ---------------------------------------------------------------------------
# Time-series anomaly detection (z-score, exact-moment lane)
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH cents AS (
  SELECT event_id, event_type, value,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
), mo AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         sum(CAST(c AS HUGEINT) * c) AS ss
  FROM cents GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       ROUND((c - s / n) / nullif(sqrt((CAST(CAST(ss AS VARCHAR) AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 0), 6) AS z
FROM cents e JOIN mo USING (event_type)
ORDER BY abs((c - s / n) / nullif(sqrt((CAST(CAST(ss AS VARCHAR) AS DOUBLE)
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 0))
         DESC NULLS LAST, event_id
LIMIT 50
"""


@register("ts_anomaly_zscore", oracle=_ZSCORE_ORACLE, tier="T2")
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 z-score anomalies per-event-type: standardize each event's
    value against its type's mean/std and rank by |z|.  The money column
    goes through the exact integer-cent lane (ROUND_NOTES.md): mean and
    variance derive from BIGINT sums, so every engine computes the same
    doubles and the 6dp rounding never straddles a boundary.

    Scale shape: one partial-aggregated shuffle for the per-type moments
    (5 rows — broadcast back onto the stream), then a global top-k
    (TakeOrdered: per-partition heaps, no full sort)."""
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_id",
        "event_type",
        "value",
        cents_col("value").alias("c"),
    )
    c_d = F.col("c").cast("decimal(38,0)")
    mo = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        # cents² rides DECIMAL(38,0) (oracle: HUGEINT) — int64 overflows
        # per-element once a surviving |value| passes ~3e7
        # (magnitude-v2 contract)
        F.sum(c_d * c_d).alias("ss"),
    )
    j = cents.join(F.broadcast(mo), "event_type")
    # nullif: a single-event type has zero variance — z undefined, NULL
    # on both engines, explicitly ranked last (round-6 tiny-tables
    # sweep; DuckDB's and Spark's default DESC null order differ).
    # The s² cross-term is evaluated in DOUBLE on both sides — exact
    # integer operands, one conversion, no 128-bit overflow exposure.
    s_d = F.col("s").cast("double")
    z = (F.col("c") - F.col("s") / F.col("n")) / F.nullif(
        F.sqrt(
            (F.col("ss").cast("double") - s_d * s_d / F.col("n")) / F.col("n")
        ),
        F.lit(0.0),
    )
    return (
        j.select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("z"),
            F.abs(z).alias("_absz"),
        )
        .orderBy(F.desc_nulls_last("_absz"), "event_id")
        .limit(50)
        .drop("_absz")
    )


# ---------------------------------------------------------------------------
# Pearson correlation from exact integer moments
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH lanes AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
), mo AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         sum(y * y) AS syy_h
  FROM lanes GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       ROUND((sxy / n - (sx / n) * (sy / n))
             / nullif(sqrt(sxx / n - (sx / n) * (sx / n))
                * sqrt(CAST(syy_h AS DOUBLE) / n - (sy / n) * (sy / n)), 0), 6)
         AS corr_qty_price
FROM mo
"""


@register("agg_corr_pearson", oracle=_CORR_ORACLE, tier="T2")
def agg_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation computed from exact integer moments
    rather than the built-in corr() (whose streaming-update float path is
    engine-specific and not bit-reproducible).  Quantities are ints,
    prices go through the cent lane; Σy² exceeds int64 at sf≥0.1 so that
    single moment runs in decimal(38)/int128 on both engines, converted
    once (correctly-rounded on both) to double before the identical
    final expression.

    Scale shape: one partial-aggregated shuffle producing 3 rows — the
    exact map-side-combine pattern any moment sketch enjoys."""
    li = load_table(spark, sf_dir, "lineitem")
    lanes = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        cents_col("l_extendedprice").alias("y"),
    )
    mo = lanes.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy_d"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    # nullif: zero variance on either lane (constant or 1-row group)
    # makes the correlation undefined — NULL both engines (round-6
    # tiny-tables sweep)
    corr = (F.col("sxy") / n - (sx / n) * (sy / n)) / F.nullif(
        F.sqrt(F.col("sxx") / n - (sx / n) * (sx / n))
        * F.sqrt(F.col("syy_d").cast("double") / n - (sy / n) * (sy / n)),
        F.lit(0.0),
    )
    return mo.select(
        "l_returnflag", n.alias("n"), F.round(corr, 6).alias("corr_qty_price")
    )


# ---------------------------------------------------------------------------
# Distributed k-means over embeddings
# ---------------------------------------------------------------------------


def lloyd_kmeans(spark: SparkSession, sf_dir: str, k: int):
    """(assigned, centroids): three distributed Lloyd iterations over
    the valid embedding vectors, seeded with the k smallest vec_ids (a
    real deployment seeds with k-means|| instead; determinism is the
    point here).  ``assigned`` is the last round's assignment (vec_id,
    embedding, cluster_id, sqdist); ``centroids`` the k×dim float64
    means that round's update produced.

    NULL-vector contract (round 9): corrupt vectors neither seed, train,
    nor join clusters — same rule as cosine_topk.  Per round, the
    centroids are k×dim floats broadcast in the UDF closure; assignment
    is ONE corpus scan (Arrow-batched numpy matmul — same kernel as
    cosine_topk); the update is a partial-aggregated groupBy on k keys
    over posexploded dims.  Nothing driver-side ever exceeds k×dim."""
    import numpy as np
    import pandas as pd

    from un_datapipeline_spark.operators.llm_vectors import _vec_matrix, valid_vec

    em = (
        load_table(spark, sf_dir, "embeddings")
        .filter(valid_vec())
        .select("vec_id", "embedding")
    )
    init = em.orderBy("vec_id").limit(k).collect()  # k rows — bounded by design
    centroids = np.array([r.embedding for r in init], dtype=np.float64)

    def make_assign(cents):
        def assign(batches):
            for pdf in batches:
                vkeep, mat = _vec_matrix(pdf)  # defensive
                if mat.shape[0] == 0:
                    continue
                pdf = pdf[vkeep]
                # squared euclidean via ||x||² - 2x·c + ||c||²; argmin ties
                # resolve to the lowest cluster id (np.argmin contract).
                d2 = (
                    (mat * mat).sum(axis=1, keepdims=True)
                    - 2.0 * mat @ cents.T
                    + (cents * cents).sum(axis=1)
                )
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "cluster_id": d2.argmin(axis=1).astype("int32"),
                        "sqdist": d2.min(axis=1),
                    }
                )

        return assign

    schema = "vec_id long, embedding array<float>, cluster_id int, sqdist double"
    assigned = None
    for _ in range(3):
        assigned = em.mapInPandas(make_assign(centroids), schema)
        # centroid update: posexplode dims → (cluster, dim) means; the
        # collected frame is k×dim rows — constant-size driver traffic.
        upd = (
            assigned.select("cluster_id", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new_c = centroids.copy()
        for r in upd:
            new_c[r.cluster_id][r.dim] = r.m
        centroids = new_c
    return assigned, centroids


@register("llm_kmeans_cluster", oracle=None, tier="T3")
def llm_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-style clustering of the embedding corpus: k=8, three Lloyd
    rounds (lloyd_kmeans — deterministic init and scale shape there),
    reported as each cluster's size and inertia.  Rows-only: the
    iterative refinement has no single-query SQL equivalent; pytest
    asserts sizes, determinism, and monotone inertia."""
    assigned, _ = lloyd_kmeans(spark, sf_dir, k=8)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("sqdist"), 4).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Context-window sequence packing
# ---------------------------------------------------------------------------

_PACK_ORACLE = """
WITH toked AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM toked
)
SELECT doc_id, n_tokens,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // 512 AS BIGINT) AS seq_first,
       CAST((tok_start + n_tokens - 1) // 512 AS BIGINT) AS seq_last
FROM packed
"""


@register("etl_pack_sequences", oracle=_PACK_ORACLE, tier="T2")
def etl_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in doc_id order
    and slice the token stream into 512-token context windows; emit each
    doc's absolute token offset and the first/last window it lands in
    (training-shard bookkeeping for attention-mask construction).

    Scale shape: the global prefix sum does NOT use a single-partition
    window — it is the distributed two-phase pattern: (1) block-local
    cumsum windowed by a coarse block key, (2) per-block totals (tiny)
    aggregated and joined back broadcast as block offsets.  Every shuffle
    is by block key; no stage sees unbounded partition width."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).withColumn("block", (F.col("doc_id") / 100).cast("long"))
    w_local = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toked.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    block_totals = toked.groupBy("block").agg(F.sum("n_tokens").alias("block_total"))
    w_blocks = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    # block_offsets is ~n_docs/100 rows — the only global ordering happens
    # on this tiny frame, then broadcasts back.
    block_offsets = block_totals.select(
        "block",
        F.coalesce(F.sum("block_total").over(w_blocks), F.lit(0)).alias("block_offset"),
    )
    packed = local.join(F.broadcast(block_offsets), "block").select(
        "doc_id",
        "n_tokens",
        (F.col("block_offset") + F.col("local_start")).alias("tok_start"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        F.floor(F.col("tok_start") / 512).alias("seq_first"),
        F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / 512).alias("seq_last"),
    )


@register("llm_bpe_train", oracle=None, tier="T3")
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training (5 merge steps) over the documents
    corpus — the missing sibling of llm_bpe_pair_counts, which only
    scored the FIRST merge.  Each step counts adjacent symbol pairs
    distributed (array-slice zip + explode, one shuffle on the pair
    key), picks the argmax pair with a lexicographic tie-break (a
    single driver-side row, the kmeans-centroid pattern), and applies
    the merge corpus-wide with a lookaround regexp_replace — leftmost
    non-overlapping, so every engine applies the textbook BPE merge
    semantics deterministically.  State stays a DataFrame throughout;
    the driver only ever holds the current best pair.  Rows-only by the
    iterative-algorithm contract (the oracle would need 5 recursive
    corpus rewrites); invariants pinned in pytest: one vocab symbol per
    step, corpus token count strictly decreasing, merged pair count
    positive and non-increasing in later steps' candidates.

    At 100 TB this shape holds: pair counting is vocabulary-bounded,
    the rewrite is a narrow map, and each step materializes via
    persist() so lineage stays flat."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.substring("text", 1, 120)), "[^a-z ]", ""
        ).alias("t"),
    )
    # word-boundary symbol '_', then one space between every symbol
    state = norm.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), " +", "_"), "(.)", "$1 "
            )
        ).alias("toks"),
    ).persist()
    steps = []
    try:
        for step in range(1, 6):
            pairs = state.select(
                F.explode(
                    F.expr(
                        "transform(slice(split(toks, ' '), 1,"
                        " size(split(toks, ' ')) - 1),"
                        " (x, i) -> concat(x, ' ', element_at(split(toks, ' '), i + 2)))"
                    )
                ).alias("pair")
            )
            top = (
                pairs.groupBy("pair")
                .count()
                .orderBy(F.desc("count"), "pair")
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, cnt = top[0]["pair"], top[0]["count"]
            merged = pair.replace(" ", "")
            new_state = state.select(
                "doc_id",
                F.regexp_replace(
                    "toks", f"(?<=^| ){pair}(?= |$)", merged
                ).alias("toks"),
            ).persist()
            # Round-12: the per-step stats were TWO full corpus passes
            # (Σ size(split) action + distinct-symbol count action); one
            # exploded lane computes both in a single pass with identical
            # values — count(*) over the exploded symbols equals
            # Σ size(split) exactly (split never yields an empty array on
            # non-null input, so explode drops nothing), and the distinct
            # count skips empty symbols via the WHEN→NULL lane just as
            # the old filter did.
            stats = (
                new_state.select(F.explode(F.split("toks", " ")).alias("s"))
                .agg(
                    F.count(F.lit(1)).alias("n_syms"),
                    F.count_distinct(
                        F.when(F.col("s") != "", F.col("s"))
                    ).alias("vocab"),
                )
                .collect()[0]
            )
            state.unpersist()
            state = new_state
            steps.append(
                (
                    step,
                    pair,
                    merged,
                    int(cnt),
                    int(stats["n_syms"]),
                    int(stats["vocab"]),
                )
            )
    finally:
        state.unpersist()
    return spark.createDataFrame(
        steps,
        "step int, pair string, merged string, pair_count long,"
        " corpus_syms long, vocab_size long",
    )


_APPLY_MERGES = (("t h", "th"), ("th e", "the"), ("i n", "in"),
                 ("e r", "er"), ("o n", "on"))


def _apply_merges_duck() -> str:
    expr = "' ' || toks || ' '"
    for pat, rep in _APPLY_MERGES:
        for _ in range(3):
            expr = f"replace({expr}, ' {pat} ', ' {rep} ')"
    return f"trim({expr})"


_TOKAPPLY_ORACLE = f"""
WITH norm AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 120)), '[^a-z ]', '', 'g') AS t
  FROM documents
), sym AS (
  SELECT doc_id,
         trim(regexp_replace(replace(t, ' ', '_'), '(.)', '\\1 ', 'g')) AS toks
  FROM norm
), merged AS (
  SELECT doc_id, toks, {_apply_merges_duck()} AS merged_toks FROM sym
)
SELECT doc_id,
       CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_before,
       CAST(len(string_split(merged_toks, ' ')) AS BIGINT) AS n_after,
       substr(merged_toks, 1, 60) AS preview
FROM merged
"""


@register("llm_tokenizer_apply", oracle=_TOKAPPLY_ORACLE, tier="T2")
def llm_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a FIXED BPE merge table (llm_bpe_train's output format) to
    tokenize the corpus: documents are char-split with '_' word
    boundaries, then each merge rewrites the symbol stream with literal
    space-padded replaces — three passes per merge, because a single
    left-to-right replace pass shares boundary spaces between adjacent
    occurrences (probed: both engines continue scanning AFTER the
    replacement, so ' t h t h ' needs a second pass; a fixed pass count
    keeps the two engines in lockstep wherever the scan lands).  The
    merge table being literal is what makes this oracle-able where the
    training loop is not: the oracle replays the identical replace
    chain.  Narrow per-row string maps, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(
            F.lower(F.substring("text", 1, 120)), "[^a-z ]", ""
        ).alias("t"),
    )
    sym = norm.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), " ", "_"), "(.)", "$1 "
            )
        ).alias("toks"),
    )
    merged_col = F.concat(F.lit(" "), F.col("toks"), F.lit(" "))
    for pat, rep in _APPLY_MERGES:
        for _ in range(3):
            merged_col = F.replace(
                merged_col, F.lit(f" {pat} "), F.lit(f" {rep} ")
            )
    merged = sym.select("doc_id", "toks", F.trim(merged_col).alias("merged_toks"))
    return merged.select(
        "doc_id",
        F.size(F.split("toks", " ")).cast("long").alias("n_before"),
        F.size(F.split("merged_toks", " ")).cast("long").alias("n_after"),
        F.substring("merged_toks", 1, 60).alias("preview"),
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (k-means + within-cluster cosine prune)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.25  # real text embeddings use ~0.95; random 64-d vectors
# concentrate near cosine 0 (σ≈1/8), so the demo threshold sits where the
# synthetic corpus actually has prunable neighbors.
SEMDEDUP_K = 8


@register("llm_semdedup", oracle=None, tier="T3")
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering the embedding corpus, then
    pruning near-duplicate pairs WITHIN each cluster — the published
    recipe that makes O(n²) cosine dedup tractable at web scale by
    paying the quadratic cost only inside bounded clusters.

    Pipeline: deterministic k-means (lloyd_kmeans, shared with
    llm_kmeans_cluster — k smallest vec_ids, 3 Lloyd rounds, broadcast
    centroids, one Arrow-batched scan per round), then per-cluster
    greedy prune via applyInPandas: scanning members by ASCENDING
    similarity to their centroid (the paper's keep-the-outliers order;
    vec_id tiebreak), a member is kept iff its max cosine to the
    already-kept set is < τ, else marked duplicate of its most similar
    kept doc.  Kept docs are therefore pairwise < τ within a cluster
    and every removed doc certifies a kept neighbor ≥ τ — both
    pytest-asserted, plus determinism (tests/test_llm_invariants.py).

    Scale shape: the cluster count is the knob — the paper runs ~100k
    clusters so cluster size (the quadratic unit) stays bounded;
    repartition by cluster_id spreads clusters across executors and
    each pandas group holds one cluster's vectors only.  Rows-only by
    nature (iterative k-means): same contract as llm_kmeans_cluster."""
    import numpy as np
    import pandas as pd

    # corrupt vectors are excluded from semantic dedup entirely
    assigned, final_cents = lloyd_kmeans(spark, sf_dir, k=SEMDEDUP_K)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["cluster_id"].iloc[0])
        x = np.array(list(pdf["embedding"]), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        c = final_cents[cid]
        sim_c = xn @ (c / np.linalg.norm(c))
        # paper order: ascending centroid similarity (outliers first);
        # vec_id tiebreak pins the scan order bit-deterministically
        order = np.lexsort((ids, sim_c))
        kept: list[int] = []
        keep = np.zeros(len(ids), dtype=bool)
        dup_of = np.full(len(ids), -1, dtype=np.int64)
        for pos in order:
            if kept:
                sims = xn[pos] @ xn[kept].T
                j = int(np.argmax(sims))
                if sims[j] >= SEMDEDUP_TAU:
                    dup_of[pos] = ids[kept[j]]
                    continue
            keep[pos] = True
            kept.append(pos)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": np.full(len(ids), cid, dtype=np.int32),
                "keep": keep,
                "dup_of": dup_of,
            }
        )

    return (
        assigned.repartition("cluster_id")
        .groupBy("cluster_id")
        .applyInPandas(prune, "vec_id long, cluster_id int, keep boolean, dup_of long")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (hashed n-gram weights)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
DSIR_SCALE = 10_000

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
), feat AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM toks
), src AS (
  SELECT b, count(*) AS cs FROM feat GROUP BY b
), tgt AS (
  SELECT b, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY b
), tot AS (
  SELECT (SELECT count(*) FROM feat) AS s_total,
         (SELECT count(*) FROM feat WHERE lang = 'en') AS t_total
), ratio AS (
  SELECT src.b,
         ((COALESCE(ct, 0) + 1) * (s_total + {DSIR_BUCKETS}) * {DSIR_SCALE})
           // ((cs + 1) * (t_total + {DSIR_BUCKETS})) AS r_scaled
  FROM src LEFT JOIN tgt ON src.b = tgt.b CROSS JOIN tot
), doc_feat AS (
  SELECT doc_id, lang, b, count(*) AS c FROM feat GROUP BY doc_id, lang, b
)
SELECT doc_id, lang,
       CAST(sum(c * r_scaled) AS BIGINT) AS weight_scaled,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       ROUND(sum(c * r_scaled) * 1.0 / (sum(c) * {DSIR_SCALE}), 6) AS avg_ratio
FROM doc_feat JOIN ratio USING (b)
GROUP BY doc_id, lang
ORDER BY doc_id
"""


@register("llm_dsir_ngram_weights", oracle=_DSIR_ORACLE, tier="T3")
def llm_dsir_ngram_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score each document by how much its hashed-unigram profile looks like
    the TARGET distribution (here: the 'en' slice — the quality-proxy
    role the paper gives Wikipedia) relative to the full-corpus SOURCE
    distribution.  Docs with high weight are what importance resampling
    keeps when curating pretraining data.

    Engine-exact formulation: the paper's per-feature log-likelihood
    ratio is replaced by the scaled integer ratio
    ``((ct+1)(S+B)·SCALE) // ((cs+1)(T+B))`` (Laplace-smoothed target
    over source probability) so every per-doc total is a BIGINT sum —
    bit-identical on any partitioning and hash-matchable, where a sum of
    float logs would expose accumulation order.  Feature hashing uses
    md5 prefixes (engine-portable, unlike Spark's Murmur `hash`).  The
    en>non-en separation property the paper relies on is additionally
    pytest-asserted.

    Scale shape: one explode→count shuffle keyed by (doc, bucket), one
    bucket-table join (B=4096 rows — broadcast), one final hash agg per
    doc.  The bucket table is the entire model state: training cost is
    O(corpus scan), model size is O(B) — the property that lets DSIR
    curate trillion-token corpora."""
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("b"),
    )
    src = feat.groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        feat.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = feat.agg(
        F.count(F.lit(1)).alias("s_total"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("t_total"),
    )
    ratio = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))  # 1-row totals spine
        .select(
            "b",
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                * (F.col("s_total") + DSIR_BUCKETS)
                * DSIR_SCALE
            ).cast("long")
            .__div__((F.col("cs") + 1) * (F.col("t_total") + DSIR_BUCKETS))
            .cast("long")
            .alias("r_scaled"),
        )
    )
    doc_feat = feat.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        doc_feat.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("c") * F.col("r_scaled")).alias("weight_scaled"),
            F.sum("c").alias("n_tokens"),
            F.round(
                F.sum(F.col("c") * F.col("r_scaled"))
                / (F.sum("c") * float(DSIR_SCALE)),
                6,
            ).alias("avg_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-shard write — the final stage of the corpus pipeline
# ---------------------------------------------------------------------------

SHARD_TOKENS = 65_536

_SHARD_WRITE_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM toked
)
SELECT CAST(tok_start // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       count(*)                                    AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)               AS shard_tokens,
       min(doc_id)                                 AS first_doc,
       max(doc_id)                                 AS last_doc
FROM packed
GROUP BY 1
ORDER BY 1
"""


@register("llm_training_shard_write", oracle=_SHARD_WRITE_ORACLE, tier="T2")
def llm_training_shard_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard materialization — the pipeline's LAST stage: docs
    are laid out in doc_id order, cut into ~64k-token shards by the
    running token offset, physically WRITTEN as one partition directory
    per shard (partitionBy("shard_id") parquet), then the audit manifest
    is computed FROM THE WRITTEN FILES — so the hash-matched result
    proves the on-disk shards, not just the plan, carry exactly the
    expected docs and token counts (the sink_zorder_write /
    etl_gdpr_delete read-back-audit discipline).

    The running offset reuses etl_pack_sequences' distributed two-phase
    prefix sum (block-local window + broadcast block offsets — no
    single-partition global sort).  At 100 TB, shard directories are
    what the training job's data loader consumes; a shard is the unit
    of shuffling, checkpoint resume, and epoch bookkeeping, and the
    manifest this emits is the loader's index file."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    ).withColumn("block", (F.col("doc_id") / 100).cast("long"))
    w_local = (
        Window.partitionBy("block")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toked.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    block_totals = toked.groupBy("block").agg(F.sum("n_tokens").alias("block_total"))
    w_blocks = Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)
    block_offsets = block_totals.select(
        "block",
        F.coalesce(F.sum("block_total").over(w_blocks), F.lit(0)).alias("block_offset"),
    )
    sharded = local.join(F.broadcast(block_offsets), "block").select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("block_offset") + F.col("local_start")) / SHARD_TOKENS)
        .cast("long")
        .alias("shard_id"),
    )
    out = scratch_dir(spark, "udp_shards_")
    sharded.write.mode("overwrite").partitionBy("shard_id").parquet(out)
    # Explicit schema (round 10, R10_EMPTY_PLAN class 1): an empty
    # corpus writes no shard files and inference dies; the writer knows
    # the schema (and skipping footer inference is the right cluster
    # posture regardless).
    return (
        spark.read.schema(sharded.schema).parquet(out)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_docs",
            "shard_tokens",
            "first_doc",
            "last_doc",
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle
# ---------------------------------------------------------------------------

_EPOCH_SEED = "epoch-7"

_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5('{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), sharded AS (
  SELECT doc_id, h,
         (ascii(substr(h, 1, 1)) * 31 + ascii(substr(h, 2, 1))) % 8 AS shard,
         row_number() OVER (
           PARTITION BY (ascii(substr(h, 1, 1)) * 31
                         + ascii(substr(h, 2, 1))) % 8
           ORDER BY h) AS pos
  FROM keyed
)
SELECT CAST(shard AS BIGINT)                 AS shard,
       CAST(count(*) AS BIGINT)              AS n_docs,
       CAST(sum(doc_id * pos) AS BIGINT)     AS order_checksum,
       CAST(min_by(doc_id, h) AS BIGINT)     AS first_doc,
       CAST(max_by(doc_id, h) AS BIGINT)     AS last_doc
FROM sharded GROUP BY shard ORDER BY shard
"""


@register("llm_shuffle_deterministic", oracle=_SHUFFLE_ORACLE, tier="T2")
def llm_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded epoch shuffle: the reshuffle-per-epoch step of a training
    data loader, made REPRODUCIBLE — every doc gets the key
    md5(seed || doc_id), the key's leading bytes pick the shard, and the
    within-shard read order is the key order.  Same seed ⇒ bit-identical
    order on any cluster size; next epoch = next seed string, a full
    cross-shard reshuffle with zero state.

    Scale shape: this is `DISTRIBUTE BY hash SORT BY hash` — shard
    assignment is a pure column expression and the sort is PER-SHARD
    (row_number partitioned by shard), so there is no global sort and no
    driver involvement; each shard sorts its own partition after one
    hash shuffle.  The audit aggregates an order-SENSITIVE exact-integer
    checksum Σ(doc_id · position) per shard, so the driver hash match
    certifies the exact permutation, not just shard membership.

    The per-epoch reshuffle complements llm_training_shard_write (static
    balanced shards) and etl_sample_hash (stable subsampling) — together
    they are the deterministic data-order toolkit a 100 TB training run
    needs for exact resume-from-step reproducibility."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(_EPOCH_SEED + ":"), F.col("doc_id").cast("string")))
    shard = (
        F.ascii(F.substring("h", 1, 1)) * 31 + F.ascii(F.substring("h", 2, 1))
    ) % 8
    keyed = d.select("doc_id", h.alias("h")).withColumn("shard", shard)
    pos = F.row_number().over(Window.partitionBy("shard").orderBy("h"))
    sharded = keyed.withColumn("pos", pos)
    return (
        sharded.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("doc_id") * F.col("pos")).cast("long").alias("order_checksum"),
            F.min_by("doc_id", "h").cast("long").alias("first_doc"),
            F.max_by("doc_id", "h").cast("long").alias("last_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Preference-pair mining (DPO/RLHF reward-pair construction)
# ---------------------------------------------------------------------------

_PREF_ORACLE = """
WITH feat AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> list_contains(['the','and','of','to','a','in','is','it'],
                                 w))) AS BIGINT) AS n_stop
  FROM documents
), scored AS (
  SELECT doc_id, source, 5 * n_stop + n_words AS score,
         (5 * n_stop + n_words) * 10000000 + doc_id AS rank_key
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT)            AS n_candidates,
       CAST(max_by(doc_id, rank_key) AS BIGINT) AS chosen_doc,
       CAST(min_by(doc_id, rank_key) AS BIGINT) AS rejected_doc,
       CAST(max(score) AS BIGINT)          AS chosen_score,
       CAST(min(score) AS BIGINT)          AS rejected_score,
       CAST(max(score) - min(score) AS BIGINT) AS margin
FROM scored GROUP BY source ORDER BY source
"""


@register("llm_preference_pairs", oracle=_PREF_ORACLE, tier="T3")
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining — the data-prep step for DPO/RLHF reward
    training: within each group (source here; prompt-id in production)
    pick the highest- and lowest-scored response as the (chosen,
    rejected) pair and report the score margin.  Ranking uses a
    composite BIGINT key score·10^7 + doc_id, so arg-max/arg-min are
    bit-deterministic under ties WITHOUT struct-valued min_by/max_by
    (which DuckDB rejects — the etl_scd3_prev_value lesson).

    Scale shape: one hash aggregate on the group key — score is a pure
    column expression, chosen/rejected are max_by/min_by (partial-agg
    friendly, no window sort, no per-group collect).  At 100 TB with
    millions of prompt groups this stays a single shuffle whose keys
    are the group ids."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    stoplist = F.array(*[F.lit(w) for w in
                         ("the", "and", "of", "to", "a", "in", "is", "it")])
    n_words = F.size(words).cast("long")
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stoplist, w))).cast(
        "long"
    )
    score = (F.lit(5) * n_stop + n_words).alias("score")
    scored = d.select("doc_id", "source", score).withColumn(
        "rank_key", F.col("score") * 10000000 + F.col("doc_id")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max_by("doc_id", "rank_key").cast("long").alias("chosen_doc"),
            F.min_by("doc_id", "rank_key").cast("long").alias("rejected_doc"),
            F.max("score").cast("long").alias("chosen_score"),
            F.min("score").cast("long").alias("rejected_score"),
            (F.max("score") - F.min("score")).cast("long").alias("margin"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Weighted dataset interleave schedule (stride scheduling)
# ---------------------------------------------------------------------------

_INTERLEAVE_N = 200

_INTERLEAVE_ORACLE = f"""
WITH weighted AS (
  SELECT doc_id, source,
         (coalesce(CAST(nullif(regexp_extract(source, '([0-9]+)', 1), '') AS BIGINT), 0) % 4) + 1 AS w
  FROM documents
), strided AS (
  SELECT doc_id, source, w,
         (2 * row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           * (12 // w) AS vtime
  FROM weighted
), prefix AS (
  SELECT * FROM strided ORDER BY vtime, source, doc_id LIMIT {_INTERLEAVE_N}
)
SELECT source,
       CAST(min(w) AS BIGINT)      AS w,
       CAST(count(*) AS BIGINT)    AS n_in_prefix,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(sum(vtime) AS BIGINT)  AS vtime_sum
FROM prefix GROUP BY source ORDER BY source
"""


@register("llm_interleave_schedule", oracle=_INTERLEAVE_ORACLE, tier="T3")
def llm_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset interleaving — the deterministic mixing schedule
    a training loader uses to draw from N corpora at fixed ratios
    (tf.data sample_from_datasets / Megatron blend, without RNG): stride
    scheduling assigns the k-th item of a weight-w source the virtual
    time (2k−1)/2w, and reading in virtual-time order yields each source
    at a rate proportional to its weight with bounded burstiness
    (±1 item of the ideal ratio — the classic lottery/stride result).

    Determinism lane: weights ∈ {{1..4}} divide 12 exactly, so
    vtime = (2k−1)·(12/w) is pure BIGINT — the schedule's order,
    hash-matched over the first {_INTERLEAVE_N} slots, is
    bit-reproducible (resume-safe, seed-free).

    Scale shape: per-source row_number windows are partitioned (no
    global sort of the corpus); the global prefix is a TakeOrdered top-k,
    not a full ORDER BY — so the audit stays scale-safe, and a real
    loader would stream the merge (k-way heap on vtime) rather than
    materialize it."""
    d = load_table(spark, sf_dir, "documents")
    # nullif-then-coalesce: a source name with NO digit makes
    # regexp_extract return '' and CAST('' AS BIGINT) is a
    # CAST_INVALID_INPUT under ANSI Spark (and a conversion error in
    # DuckDB) — degenerate-corpus sweep, round 6.  Digit-less sources
    # take weight 1 on both engines.
    w = (
        F.coalesce(
            F.nullif(F.regexp_extract("source", "([0-9]+)", 1), F.lit("")).cast(
                "long"
            ),
            F.lit(0),
        )
        % 4
        + 1
    ).alias("w")
    weighted = d.select("doc_id", "source", w)
    rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    strided = weighted.withColumn(
        "vtime", (2 * rn - 1) * (F.lit(12) / F.col("w")).cast("long")
    )
    prefix = strided.orderBy("vtime", "source", "doc_id").limit(_INTERLEAVE_N)
    return (
        prefix.groupBy("source")
        .agg(
            F.min("w").cast("long").alias("w"),
            F.count(F.lit(1)).alias("n_in_prefix"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.sum("vtime").cast("long").alias("vtime_sum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Chat template application (SFT formatting)
# ---------------------------------------------------------------------------

_CHAT_ORACLE = f"""
WITH paired AS (
  SELECT source, doc_id, text AS prompt,
         lead(text)   OVER (PARTITION BY source ORDER BY doc_id) AS response,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS resp_id
  FROM {winner_document_sql()} documents
), formatted AS (
  SELECT source, doc_id, resp_id,
         '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10)
         || '<|user|>' || chr(10) || prompt || chr(10)
         || '<|assistant|>' || chr(10) || response || '<|end|>' AS sample
  FROM paired WHERE response IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT)          AS n_samples,
       CAST(sum(len(sample)) AS BIGINT)  AS chars_total,
       md5(string_agg(md5(sample), '' ORDER BY doc_id)) AS corpus_digest,
       CAST(min(doc_id) AS BIGINT)       AS first_prompt,
       CAST(max(resp_id) AS BIGINT)      AS last_response
FROM formatted GROUP BY source ORDER BY source
"""


@register("llm_chat_template_apply", oracle=_CHAT_ORACLE, tier="T3")
def llm_chat_template_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template application — the SFT formatting stage that turns
    (prompt, response) pairs into the exact token-stream text a chat
    model trains on (system/user/assistant role markers, explicit
    terminator).  Pairs come from consecutive docs per source via ONE
    lead() window (in production: conversation turns per thread_id);
    the audit digests every formatted sample (md5, concatenated in
    doc_id order, re-hashed) so the hash match certifies BYTE-exact
    template output — a one-character template drift (the classic
    silent SFT bug) flips the digest.

    Scale shape: one partitioned window (no global sort) + string
    concat column expressions + one hash agg; the per-source digest is
    the ordered-fold lane of etl_table_fingerprint applied to the
    formatted corpus.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 3): the
    pairing window orders by doc_id — a re-crawled id TIES in the sort
    and each engine pairs an arbitrary duplicate with the next doc
    (probed: char totals off by one duplicate's worth).  Deterministic
    per-key winner on both sides."""
    d = winner_document(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = d.select(
        "source",
        "doc_id",
        F.col("text").alias("prompt"),
        F.lead("text").over(w).alias("response"),
        F.lead("doc_id").over(w).alias("resp_id"),
    ).filter(F.col("response").isNotNull())
    nl = F.lit("\n")
    sample = F.concat(
        F.lit("<|system|>"), nl, F.lit("You are a helpful assistant."), nl,
        F.lit("<|user|>"), nl, F.col("prompt"), nl,
        F.lit("<|assistant|>"), nl, F.col("response"), F.lit("<|end|>"),
    )
    formatted = paired.select(
        "source", "doc_id", "resp_id", sample.alias("sample")
    )
    return (
        formatted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.length("sample")).cast("long").alias("chars_total"),
            F.md5(
                F.expr(
                    "listagg(md5(sample), '') WITHIN GROUP (ORDER BY doc_id)"
                )
            ).alias("corpus_digest"),
            F.min("doc_id").cast("long").alias("first_prompt"),
            F.max("resp_id").cast("long").alias("last_response"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (cluster-aware assignment)
# ---------------------------------------------------------------------------

_LEAK_ORACLE = f"""
WITH toked AS (
  -- prefix-capped SIGNATURE (bounded-prefix contract) + zip-of-shifted
  -- slices (round-10 bigdoc sweep: the fixed 200-position series
  -- truncated big docs' fingerprint search space on the oracle side
  -- only, and the lateral list-slice form copies O(len) per row)
  SELECT doc_id, string_split(lower({capped_text_sql()}), ' ') AS ws,
         len(string_split(lower({capped_text_sql()}), ' ')) AS n
  FROM documents
), fp AS (
  SELECT doc_id, min(md5(g)) AS cluster_id
  FROM (
    SELECT doc_id, unnest({ngram_zip_sql("ws", "n", 5)}) AS g
    FROM toked WHERE n >= 5
  )
  GROUP BY doc_id
), assigned AS (
  SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5(cluster_id), 1, 6)) AS BIGINT) % 10
           AS cb,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
              AS BIGINT) % 10 AS db
  FROM fp
), labeled AS (
  SELECT doc_id, cluster_id,
         CASE WHEN cb <= 7 THEN 'train' WHEN cb = 8 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN (cb <= 7) != (db <= 7) OR (cb = 8) != (db = 8)
              THEN 1 ELSE 0 END AS moved,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize
  FROM assigned
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_in_multi,
       CAST(sum(CASE WHEN csize > 1 AND moved = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leaks_prevented
FROM labeled GROUP BY split ORDER BY split
"""


@register("llm_leakage_safe_split", oracle=_LEAK_ORACLE, tier="T3")
def llm_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the eval-integrity guard a
    doc-level hash split silently violates: near-duplicate documents
    must land in the SAME split, or the held-out set is contaminated
    with paraphrases of training docs and eval scores inflate.  Docs
    are clustered by their min-shingle fingerprint (the k=1 MinHash
    signature: min over 5-word shingles of md5(shingle) — two docs
    sharing ANY minimal shingle collapse), the split is hashed from the
    CLUSTER id, and the audit counts, per split, the docs a naive
    doc-id hash would have separated from their cluster
    (n_leaks_prevented).

    Determinism lane (exact integer): both bucket assignments are
    md5-prefix mod 10 (the llm_shuffle_deterministic idiom —
    engine-portable, unlike Spark's murmur hash), so membership is
    reproducible run-over-run and across engines — a split that moves
    between runs is itself a leak.

    Scale shape: shingle explode (bounded x n_words), one hash agg for
    the fingerprint, pure column expressions for both buckets, one
    window for cluster size, one hash agg for the audit — no join at
    all; at 100 TB the cluster id would come from the full
    llm_neardup_cluster CC pass, and this op is the assignment +
    audit stage bolted on top."""
    from un_datapipeline_spark.operators.dedup_extras import ngram_array
    from un_datapipeline_spark.tables import capped_text

    d = load_table(spark, sf_dir, "documents")
    # prefix-capped signature + linear 5-gram build (ngram_array): the
    # explode-index-then-slice form copies the token array per exploded
    # row — quadratic per doc (round-10 bigdoc class); docs shorter
    # than 5 tokens have no shingle and fall out of fp on both sides
    ws = F.split(F.lower(capped_text()), " ")
    fp = (
        d.select(
            "doc_id", F.explode(ngram_array(ws, 5)).alias("shingle")
        )
        .select("doc_id", F.md5("shingle").alias("g"))
        .groupBy("doc_id")
        .agg(F.min("g").alias("cluster_id"))
    )
    cb = F.conv(F.substring(F.md5("cluster_id"), 1, 6), 16, 10).cast(
        "long"
    ) % 10
    db = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 10
    assigned = fp.select("doc_id", "cluster_id", cb.alias("cb"), db.alias("db"))
    labeled = assigned.select(
        "doc_id",
        "cluster_id",
        F.when(F.col("cb") <= 7, "train")
        .when(F.col("cb") == 8, "val")
        .otherwise("test")
        .alias("split"),
        (
            ((F.col("cb") <= 7) != (F.col("db") <= 7))
            | ((F.col("cb") == 8) != (F.col("db") == 8))
        )
        .cast("int")
        .alias("moved"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("csize"),
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum((F.col("csize") > 1).cast("long"))
            .cast("long")
            .alias("n_docs_in_multi"),
            F.sum(((F.col("csize") > 1) & (F.col("moved") == 1)).cast("long"))
            .cast("long")
            .alias("n_leaks_prevented"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# SFT loss masking (prompt-span vs response-span char budgets)
# ---------------------------------------------------------------------------

_SFT_MASK_ORACLE = f"""
WITH paired AS (
  SELECT source, doc_id, text AS prompt,
         lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS response
  FROM {winner_document_sql()} documents
), spans AS (
  SELECT source, doc_id,
         len('<|system|>' || chr(10) || 'You are a helpful assistant.'
             || chr(10) || '<|user|>' || chr(10)) + len(prompt)
         + len(chr(10) || '<|assistant|>' || chr(10)) AS resp_start,
         CAST(len(response) AS BIGINT) AS trained_chars,
         len('<|system|>' || chr(10) || 'You are a helpful assistant.'
             || chr(10) || '<|user|>' || chr(10)) + len(prompt)
         + len(chr(10) || '<|assistant|>' || chr(10)) + len(response)
         + len('<|end|>') AS total_chars
  FROM paired WHERE response IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(resp_start) AS BIGINT) AS masked_chars,
       CAST(sum(trained_chars) AS BIGINT) AS trained_chars,
       CAST(sum(total_chars) AS BIGINT) AS total_chars,
       CAST((sum(trained_chars) * 1000000) // sum(total_chars) AS BIGINT)
         AS trained_ppm,
       CAST(min(resp_start) AS BIGINT) AS min_resp_start,
       CAST(max(resp_start) AS BIGINT) AS max_resp_start
FROM spans GROUP BY source ORDER BY source
"""


@register("llm_sft_loss_mask", oracle=_SFT_MASK_ORACLE, tier="T3")
def llm_sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask spans — the companion stage to
    llm_chat_template_apply: a chat-SFT loader must zero the loss on
    every character of the system header, user prompt, and role
    markers, training only on the assistant span.  This op computes,
    from the SAME template the chat op digests, the exact char offset
    where the response begins (resp_start = header + prompt + the
    assistant marker) and audits the masked/trained char budgets per
    source — the masking-boundary drift that silently trains on
    prompts (or masks half the response) flips these integers.

    Determinism lane (exact integer): every value is a string LENGTH or
    a sum of lengths; the trained fraction is one x10^6 integer
    division over BIGINT sums.  An off-by-one against the template
    (the classic '\\n inside or outside the mask' bug) shifts
    min/max_resp_start by exactly one and the hash catches it.

    Scale shape: one lead() window per source (no global sort), pure
    length arithmetic, one hash agg.

    Duplicate-key contract (round 10, class 3): same pairing-window tie
    as llm_chat_template_apply — deterministic per-key winner on both
    sides."""
    d = winner_document(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = d.select(
        "source",
        "doc_id",
        F.col("text").alias("prompt"),
        F.lead("text").over(w).alias("response"),
    ).filter(F.col("response").isNotNull())
    header = F.length(
        F.concat(
            F.lit("<|system|>"), F.lit("\n"),
            F.lit("You are a helpful assistant."), F.lit("\n"),
            F.lit("<|user|>"), F.lit("\n"),
        )
    )
    marker = F.length(F.concat(F.lit("\n"), F.lit("<|assistant|>"), F.lit("\n")))
    resp_start = (header + F.length("prompt") + marker).cast("long")
    spans = paired.select(
        "source",
        resp_start.alias("resp_start"),
        F.length("response").cast("long").alias("trained_chars"),
        (resp_start + F.length("response") + F.length(F.lit("<|end|>")))
        .cast("long")
        .alias("total_chars"),
    )
    return (
        spans.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("resp_start").cast("long").alias("masked_chars"),
            F.sum("trained_chars").cast("long").alias("trained_chars"),
            F.sum("total_chars").cast("long").alias("total_chars"),
            F.expr("(sum(trained_chars) * 1000000) DIV sum(total_chars)")
            .cast("long")
            .alias("trained_ppm"),
            F.min("resp_start").cast("long").alias("min_resp_start"),
            F.max("resp_start").cast("long").alias("max_resp_start"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (seeded span selection, exact offsets)
# ---------------------------------------------------------------------------

_SPAN_LEN = 3

_SPAN_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n
  FROM documents
), eligible AS (
  SELECT doc_id, source, n, n // 10 AS n_spans FROM toked WHERE n >= 10
), spans AS (
  SELECT doc_id, source, n, n_spans,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(i AS VARCHAR)), 1, 6))
              AS BIGINT) % (n - {_SPAN_LEN - 1}) AS start0
  -- correlated LATERAL, not a fixed-bound JOIN series (round-10
  -- bigdoc sweep: the 200-span cap truncated big docs' corruption
  -- budget on the oracle side only — corrupt_ppm 233016 vs 11663)
  FROM eligible, LATERAL (SELECT unnest(generate_series(1, n_spans)) AS i) t
), posns AS (
  SELECT DISTINCT doc_id, source, start0 + off AS pos
  FROM spans JOIN generate_series(0, {_SPAN_LEN - 1}) o(off) ON TRUE
), per_doc AS (
  SELECT e.doc_id, e.source, e.n, e.n_spans,
         CAST(count(p.pos) AS BIGINT) AS n_corrupt
  FROM eligible e JOIN posns p ON p.doc_id = e.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS words_total,
       CAST(sum(n_spans) AS BIGINT) AS spans_total,
       CAST(sum(n_corrupt) AS BIGINT) AS corrupt_total,
       CAST((sum(n_corrupt) * 1000000) // sum(n) AS BIGINT) AS corrupt_ppm
FROM per_doc GROUP BY source ORDER BY source
"""


@register("llm_span_corruption", oracle=_SPAN_ORACLE, tier="T3")
def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020) — the denoising
    pretraining objective: per document, n_words DIV 10 spans of
    three tokens are selected for masking, span starts drawn from
    a SEEDED hash of (doc_id, span_index) so the corruption pattern is
    reproducible across epochs, engines, and reruns (the
    llm_shuffle_deterministic discipline — md5 prefix mod range, never
    rand()).  Overlapping spans collapse: the audited corruption budget
    counts DISTINCT masked positions, which is what the loader actually
    masks.

    Determinism lane (exact integer): span starts are md5-prefix mod
    (n_words - 2) BIGINTs, positions are start + offset,
    the corruption rate is one x10^6 integer division — nothing
    float touches the output.

    Scale shape: two bounded explodes (spans per doc = n/10, offsets
    = span length), a distinct + hash agg per doc, one corpus agg —
    all partitioned by doc_id, the natural key."""
    d = load_table(spark, sf_dir, "documents")
    eligible = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= 10)
    eligible = eligible.withColumn("n_spans", F.expr("n DIV 10"))
    spans = eligible.select(
        "doc_id",
        "source",
        "n",
        "n_spans",
        F.explode(F.expr("sequence(1, n_spans)")).alias("i"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % (F.col("n") - (_SPAN_LEN - 1))
        ).alias("start0"),
    )
    posns = (
        spans.select(
            "doc_id",
            "source",
            F.explode(F.expr(f"sequence(0, {_SPAN_LEN - 1})")).alias("off"),
            "start0",
        )
        .select("doc_id", "source", (F.col("start0") + F.col("off")).alias("pos"))
        .distinct()
    )
    per_doc = (
        eligible.join(posns.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_corrupt")
        ), "doc_id")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("words_total"),
            F.sum("n_spans").cast("long").alias("spans_total"),
            F.sum("n_corrupt").cast("long").alias("corrupt_total"),
            F.expr("(sum(n_corrupt) * 1000000) DIV sum(n)")
            .cast("long")
            .alias("corrupt_ppm"),
        )
        .orderBy("source")
    )

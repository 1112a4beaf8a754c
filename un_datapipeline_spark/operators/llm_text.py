"""Text-corpus operators for LLM data pipelines (SURVEY.md §2.K).

All tokenization / cleaning / frequency math is Column-expression only
(split, explode, regexp — JVM codegen); the one rows-only operator is
MinHash/LSH near-dedup, whose hash functions cannot be replicated in the
DuckDB oracle by nature (SURVEY.md §2 note).  Its recall invariant
(exact duplicates are always candidates) is pytest-asserted instead.

Scale posture: every operator is a scan + shuffle-on-small-keys plan.
The explode(split(text)) paths shuffle (lang, word) or (word) pairs —
cardinality bounded by vocabulary, not corpus size; MinHash/LSH shuffles
(band, bucket) — the standard way to near-dedup 100 TB without an O(n²)
pair join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark import scale
from un_datapipeline_spark.session import ckpt, scratch_dir
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import load_table

_CLEAN_ORACLE = """
SELECT count(*) AS n_docs,
       ROUND(avg(length(clean)), 6) AS avg_clean_len,
       min(length(clean))           AS min_clean_len,
       max(length(clean))           AS max_clean_len
FROM (
  SELECT regexp_replace(lower(text), '[^a-z ]', '', 'g') AS clean
  FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 120 AND 400
)
"""


@register("llm_lang_filter_clean", oracle=_CLEAN_ORACLE, tier="T3")
def llm_lang_filter_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-only slice, lowercased and stripped to [a-z ], with
    length stats over the cleaned text."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.lower("text"), "[^a-z ]", "")
    return (
        d.filter((F.col("lang") == "en") & F.col("n_chars").between(120, 400))
        .select(F.length(clean).alias("clen"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("clen"), 6).alias("avg_clean_len"),
            F.min("clen").alias("min_clean_len"),
            F.max("clen").alias("max_clean_len"),
        )
    )


_TOKEN_ORACLE = """
SELECT lang,
       count(*)                                  AS docs,
       ROUND(avg(n_chars), 6)                    AS avg_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang
"""


@register("llm_text_token_stats", oracle=_TOKEN_ORACLE, tier="T3")
def llm_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per language — size(split()) stays
    per-row (no explode), so the aggregate shuffles only 5 lang keys."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum(ntok).cast("long").alias("total_tokens"),
        F.max(ntok).cast("long").alias("max_tokens"),
    )


_WORDFREQ_ORACLE = """
SELECT word, n FROM (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
  GROUP BY word
)
ORDER BY n DESC, word
LIMIT 25
"""


@register("llm_word_freq_topk", oracle=_WORDFREQ_ORACLE, tier="T3")
def llm_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 words (count desc, word tie-break).  explode feeds a
    partial-agg shuffle keyed by vocabulary, then TakeOrderedAndProject
    — the driver-side result is 25 rows regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(25)
    )


_TFIDF_ORACLE = """
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
), tf AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS tf
  FROM words WHERE word <> '' GROUP BY lang, word
), df AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM words WHERE word <> '' GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT lang, word, tfidf FROM (
  SELECT tf.lang, tf.word,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
         row_number() OVER (PARTITION BY tf.lang
                            ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                                     tf.word) AS rn
  FROM tf JOIN df USING (word) CROSS JOIN n
)
WHERE rn <= 5
"""


@register("llm_tfidf_topterms", oracle=_TFIDF_ORACLE, tier="T3")
def llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per language.  tf = term count within the
    lang; idf = ln(N / docs-containing-word).  The df side aggregates
    distinct (doc, word) pairs — both aggregates shuffle on vocabulary
    keys, then join word→word (broadcastable: vocabulary ≪ corpus)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    # N as a 1-row aggregate cross-joined in (broadcast nested loop) —
    # stays in the plan, no eager driver-side count (VERDICT.md r1 §7).
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "word",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("_tfidf_raw"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("_tfidf_raw"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", F.round("_tfidf_raw", 6).alias("tfidf"))
    )


_DEDUP_EXACT_ORACLE = """
SELECT count(*)                 AS n,
       count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dupes
FROM documents
"""


@register("llm_dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tier="T3")
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting via content hash — the O(n) baseline every
    near-dup method is measured against.  Spark md5 ≡ DuckDB md5 (same
    hex), so the distinct-count matches exactly."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


# ---------------------------------------------------------------------------
# MinHash / LSH near-duplicate detection (rows-only: hash functions are
# engine-specific; recall invariant asserted in tests/test_llm_invariants.py)
# ---------------------------------------------------------------------------

# Round-1 lesson (VERDICT.md): 6 bands × 2 rows admitted 32% of ALL pairs
# as candidates at sf0.01 — 2-row bands collide far too easily on this
# corpus's shingle profile, recreating the quadratic blowup inside hot
# buckets at scale.  4 rows/band drives the collision curve much steeper
# (P[band match] = s^4: 0.41 at s=0.8 vs 0.063 at s=0.5), and a Jaccard
# verification stage after candidate generation removes the survivors.
N_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows — steep s-curve, then exact verify
SHINGLE = 5
JACCARD_THRESHOLD = 0.6


def _shingled(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs — distinct character 5-grams per doc.

    NULL-text contract (round 9, class 2): a NULL document has no
    shingles — without the filter it would contribute NULL-shingle rows,
    every NULL doc would share an identical minhash signature (xxhash64
    of the seed alone), they'd all band together as candidate pairs, and
    the Jaccard verifier would hit ANSI DIVIDE_BY_ZERO on the empty
    union.  (An EMPTY text is different: it yields the '' shingle and
    participates normally.)"""
    # prefix-capped SIGNATURE (round 10, bounded-prefix contract,
    # tables.SIG_PREFIX_CHARS): one 520 KB outlier doc otherwise
    # explodes to ~500k shingle rows feeding the minhash/band stages and
    # stalls its task >90 s — the job-tail straggler class at 100 TB.
    # A 64 KB prefix is as selective a near-dup signature as the full
    # text; parity holds because every consumer's oracle caps too.
    # Built with the LINEAR shifted-slice zip over the char array
    # (dedup_extras.ngram_array) — the substring-per-index lambda
    # re-evaluated the O(cap) substring per element, O(cap²) per doc
    # (the round-10 bigdoc probe's 75 s mechanism).
    from un_datapipeline_spark.operators.dedup_extras import ngram_array
    from un_datapipeline_spark.tables import capped_text

    chars = F.split(capped_text(), "")
    # a sub-SHINGLE-length doc contributes its whole text as ONE shingle
    # (including the '' shingle for an empty text — see the docstring),
    # exactly as the old greatest(len-4, 1) sequence formulation did
    shingles = F.when(
        F.length(capped_text()) < SHINGLE, F.array(capped_text())
    ).otherwise(ngram_array(chars, SHINGLE, sep=""))
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


def shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, sh) — each doc's distinct shingle set, materialized.

    Round-12 (guide §1.2 "don't compute things you throw away"): the
    near-dedup pipeline used to shingle the corpus TWICE — once exploded
    into the minhash aggregate and once re-collected for the Jaccard
    verifier — and the shingling (64 KB-capped char 5-grams per doc) is
    its most expensive stage.  Materializing the per-doc sets once lets
    the signatures be derived WITHOUT re-shingling (array_min over a
    transform — same 16 hash evaluations per shingle, no extra shuffle)
    and the verifier join the same cached sets.  DISK_ONLY for the same
    reason as the graph edge lists: shingle sets are corpus-sized."""
    from pyspark.storagelevel import StorageLevel

    return (
        _shingled(d)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    )


def _signatures_from_sets(sets: DataFrame) -> DataFrame:
    """Minhash signatures derived from materialized shingle sets: explode
    the cached sets back to (doc_id, shingle) rows and feed them to
    :func:`_signature_agg`, the aggregate :func:`minhash_signatures` also
    runs — same elements, same hashes, same mins (pinned bitwise by
    test_signatures_from_sets_match_aggregate_path), but fed from the
    checkpoint instead of a second corpus shingling.

    Measurement record (solo + order-debiased interleaved A/B at sf0.1):
    locally this one-pass shape is a WASH against the original
    twice-shingled pipeline (interleaved runs: sets-path 25.9/24.0 s vs
    original 28.5/21.1 s; solo full-op 27.6 vs 27.3 s) — the corpus is
    small enough that re-shingling costs about what the set checkpoint
    write+read costs.  It ships anyway because the at-scale pass count
    is what matters: one corpus shingling instead of two, with the
    set-materialization cost bounded by the data the verifier must hold
    regardless.  A per-row `array_min(F.transform(sh, …))` formulation
    was measured strictly slower (31.8 s solo — no partial-agg
    locality) and carries a trap: a `lambda x, i=i:` default flips
    pyspark's `transform` into its two-argument (element, index) form
    and silently shadows the hash index — every h_i collapses to one
    column (caught by the bitwise pin
    test_signatures_from_sets_match_aggregate_path)."""
    return _signature_agg(sets.select("doc_id", F.explode("sh").alias("shingle")))


def minhash_signatures(d: DataFrame) -> DataFrame:
    """One row per doc of ``d``, its signature over a fresh shingling."""
    return _signature_agg(_shingled(d))


def _signature_agg(rows: DataFrame) -> DataFrame:
    """The MinHash signature of (doc_id, shingle) rows: one row per doc,
    h_i = min over its shingles of xxhash64(i ∥ shingle).

    A single groupBy computes all N_HASHES mins in one shuffle; signature
    size is constant per doc regardless of text length."""
    return rows.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(N_HASHES)
        ]
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """(a, b) candidate pairs (a < b) sharing ≥1 LSH band bucket.

    Bands hash to a single bucket key; the self-join runs per
    (band, bucket) group — never across the whole corpus — which is what
    keeps near-dedup sub-quadratic at scale.

    Round-12: the signature table is checkpointed before fan-out — it is
    referenced by every band projection AND both self-join sides, so an
    un-materialized input (the full shingle+minhash lineage) used to
    re-execute up to 8x through this function.  Signatures are 1 row x
    16 longs per doc — negligible to pin at any scale.
    """
    sigs = sigs.transform(ckpt())
    n_bands = N_HASHES // BAND_SIZE
    bands = None
    for j in range(n_bands):
        cols = [F.col(f"h{i}") for i in range(j * BAND_SIZE, (j + 1) * BAND_SIZE)]
        b = sigs.select(
            "doc_id",
            F.lit(j).alias("band"),
            F.xxhash64(*cols).alias("bucket"),
        )
        bands = b if bands is None else bands.unionByName(b)
    return scale.co_occurrence(
        bands, "doc_id", ["band", "bucket"], "x.doc_id < y.doc_id"
    ).select("a", "b")


def verify_candidates_jaccard(
    d: DataFrame,
    candidates: DataFrame,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact char-shingle Jaccard verification of LSH candidate pairs.

    Shingle sets are collected per doc (bounded by doc length) and the
    intersection computed per PAIR with array_intersect — never a
    gram-equality join, which would blow up on ubiquitous 5-grams like
    `' the '`.  Cost is O(|candidates| × avg_doc_len), distributed, and
    the candidate set is already sub-quadratic from the banding stage.
    Pass `sets` (from :func:`shingle_sets`) to reuse a materialized set
    table instead of re-shingling the corpus (round 12).
    """
    sh = sets if sets is not None else _shingled(d).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh")
    )
    return (
        candidates.join(
            sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a")),
            "a",
        )
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")),
            "b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b", "jaccard")
    )


@register("llm_dedup_near_minhash", oracle=None, tier="T3")
def llm_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via character-shingle MinHash + LSH banding
    (16 hashes, 4 bands × 4 rows) followed by an exact shingle-Jaccard
    verification stage (≥ 0.6).  Rows-only by design — hash functions
    aren't portable across engines; the exact-duplicate recall invariant
    (identical texts always collide in every band and verify at
    jaccard = 1.0) is asserted in the unit suite."""
    d = load_table(spark, sf_dir, "documents")
    # one shingling pass feeds both the signatures and the verifier
    sets = shingle_sets(d)
    candidates = lsh_candidate_pairs(_signatures_from_sets(sets))
    return verify_candidates_jaccard(d, candidates, sets=sets).orderBy("a", "b")


_ROUGE_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, lower(w) AS w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[A-Za-z]+$')
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(DISTINCT a.w) AS BIGINT) AS n_common
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1 AND a.w = b.w
  WHERE a.doc_id % 2 = 0
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
       ROUND(p.n_common * 1.0 / sb.n, 6) AS p,
       ROUND(p.n_common * 1.0 / sa.n, 6) AS r,
       ROUND(2.0 * p.n_common / (sa.n + sb.n), 6) AS f1
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


@register("llm_rouge_overlap", oracle=_ROUGE_ORACLE, tier="T2")
def llm_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1-style unique-unigram overlap between fixed document
    pairs (each even doc_id against its successor — the
    reference/candidate pairing an eval harness supplies): precision,
    recall, and F1 over distinct lowercase alpha tokens.  The eval-
    metric family the dedup ladder doesn't cover — dedup asks "same
    document?", ROUGE asks "how much of the reference does the
    candidate cover".  Set-F1 = 2·|A∩B|/(|A|+|B|) keeps every metric
    ONE division of exact counts (the pairwise-F1 identity avoids
    composing P·R/(P+R) from already-divided floats).  The pair join
    is key-adjacent (doc_id+1), so candidates are an equi-join on
    (token, pair) — no all-pairs blowup; an N×M eval grid would reuse
    the MinHash banding prefilter."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z]+$"))
        .select("doc_id", F.lower("w").alias("w"))
        .distinct()
    )
    pairs = scale.co_occurrence(
        toks, "doc_id", ["w"], "x.doc_id % 2 = 0 AND y.doc_id = x.doc_id + 1"
    ).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), F.col("shared").alias("n_common")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            "n_common",
            F.round(F.col("n_common") * 1.0 / F.col("sb.n"), 6).alias("p"),
            F.round(F.col("n_common") * 1.0 / F.col("sa.n"), 6).alias("r"),
            F.round(
                2.0 * F.col("n_common") / (F.col("sa.n") + F.col("sb.n")), 6
            ).alias("f1"),
        )
    )


@register("llm_neardup_cluster", oracle=None, tier="T3")
def llm_neardup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup flow end-to-end: MinHash signatures →
    banded LSH candidates → exact Jaccard verification → connected
    components → one canonical doc per near-dup cluster.  Composes the
    pieces this package verifies separately (llm_dedup_near_minhash's
    sub-quadratic candidate path, llm_dedup_cluster's min-label CC) into
    the pass a 100 TB corpus actually runs: pairs alone can't dedup —
    near-dup relations chain (A~B~C with A≁C must still collapse), and
    the keep-decision needs a cluster-wide canonical pick (min doc_id
    here; llm_canonical_select shows the quality-ranked variant).

    Scale posture inherited from the parts: signatures are one
    constant-width groupBy per doc; the candidate self-join is keyed by
    (band, bucket), never corpus×corpus; verification touches only
    candidates; CC iterates on the dup-edge subgraph (a tiny fraction
    of the corpus).  Rows-only (engine-specific xxhash64 in the
    signatures); the clone-clustering recall invariant is
    pytest-asserted like the other minhash ops."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # one shingling pass feeds both the signatures and the verifier (r12)
    sets = shingle_sets(d)
    cands = lsh_candidate_pairs(_signatures_from_sets(sets))
    edges = verify_candidates_jaccard(d, cands, sets=sets).select("a", "b")
    from un_datapipeline_spark.operators.advanced import connected_components

    labels = connected_components(edges)
    return (
        labels.groupBy(F.col("label").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("canonical_doc"),
            F.max("node").alias("max_doc"),
        )
        .orderBy("cluster_rep")
    )


_SOFTDEDUP_ORACLE = """
WITH h AS (
  SELECT doc_id, md5(text) AS hx, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), grp AS (
  SELECT hx, count(*) AS dup_count FROM h GROUP BY hx
)
SELECT doc_id,
       CAST(dup_count AS BIGINT) AS dup_count,
       ROUND(1.0 / dup_count, 6) AS sample_weight,
       n_tokens,
       ROUND(n_tokens * 1.0 / dup_count, 6) AS effective_tokens
FROM h JOIN grp USING (hx)
ORDER BY doc_id
"""


@register("llm_softdedup_weights", oracle=_SOFTDEDUP_ORACLE, tier="T2")
def llm_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DELETING duplicates (llm_dedup_exact
    et al.), keep every copy but assign sampling weight 1/dup_count so a
    duplicate GROUP contributes one document's worth of gradient — the
    reweighting formulation (e.g. SoftDeDup, arXiv:2401.00396) that
    preserves corpus mixture statistics hard removal distorts, and that
    a sampling-based training loader can consume directly (the weight
    column multiplies per-example sampling probability; effective_tokens
    is what the token-budget accounting should count).

    One md5 hash-groupBy (the same shuffle as exact dedup), joined back
    on the hash key — no row is dropped, so the pass is trivially
    revertible and composable with llm_dsir_ngram_weights (multiply the
    weights) for combined quality × dedup sampling."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.md5("text").alias("hx"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    grp = h.groupBy("hx").agg(F.count(F.lit(1)).alias("dup_count"))
    return (
        h.join(grp, "hx")
        .select(
            "doc_id",
            F.col("dup_count").cast("long").alias("dup_count"),
            F.round(F.lit(1.0) / F.col("dup_count"), 6).alias("sample_weight"),
            "n_tokens",
            F.round(F.col("n_tokens") * 1.0 / F.col("dup_count"), 6).alias(
                "effective_tokens"
            ),
        )
        .orderBy("doc_id")
    )


_PREFIX_SHARING_ORACLE = """
WITH p AS (
  SELECT doc_id,
         substr(text, 1, 16)  AS p16,
         substr(text, 1, 64)  AS p64,
         substr(text, 1, 256) AS p256
  FROM documents
)
SELECT k AS prefix_len,
       CAST(count(*) AS BIGINT)           AS n_docs,
       CAST(count(DISTINCT pf) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT pf) AS BIGINT) AS n_shareable,
       ROUND((count(*) - count(DISTINCT pf)) * 1.0 / count(*), 6) AS share_frac
FROM (
  SELECT doc_id, 16 AS k, p16 AS pf FROM p
  UNION ALL SELECT doc_id, 64, p64 FROM p
  UNION ALL SELECT doc_id, 256, p256 FROM p
)
GROUP BY k
ORDER BY k
"""


@register("llm_prefix_sharing", oracle=_PREFIX_SHARING_ORACLE, tier="T2")
def llm_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-sharing profile of the corpus: at prefix lengths 16/64/256
    chars, how many documents share an already-seen prefix — the
    statistic that sizes a serving-side prefix cache (every shared
    prefix is a KV-cache hit) and flags template/boilerplate families a
    crawler ingested (high share at 256 chars means thousands of docs
    open identically — a dedup-policy input that pure whole-doc hashing
    misses).  One unpivot + count-distinct per length: the shuffle is
    keyed by the prefix value, so hot template prefixes are exactly the
    skewed keys AQE's skew handling (or a count-distinct rewrite to
    two-level agg) absorbs at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        F.substring("text", 1, 16).alias("p16"),
        F.substring("text", 1, 64).alias("p64"),
        F.substring("text", 1, 256).alias("p256"),
    )
    longform = (
        p.select(F.lit(16).alias("prefix_len"), F.col("p16").alias("pf"))
        .unionByName(p.select(F.lit(64).alias("prefix_len"), F.col("p64").alias("pf")))
        .unionByName(
            p.select(F.lit(256).alias("prefix_len"), F.col("p256").alias("pf"))
        )
    )
    return (
        longform.groupBy("prefix_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("pf").alias("n_unique"),
            (F.count(F.lit(1)) - F.count_distinct("pf")).alias("n_shareable"),
            F.round(
                (F.count(F.lit(1)) - F.count_distinct("pf"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("share_frac"),
        )
        .orderBy("prefix_len")
    )


_JSONL_EXPORT_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text)) AS BIGINT) AS payload_chars,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM documents
WHERE doc_id < 300
GROUP BY lang
ORDER BY lang
"""


@register("llm_jsonl_export", oracle=_JSONL_EXPORT_ORACLE, tier="T2")
def llm_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning JSONL export — the hand-off format between a
    corpus pipeline and a training stack: each doc becomes one JSON line
    `{"meta": {"id", "lang"}, "messages": [{"role", "content"}, …]}`
    (`to_json` over nested named structs), written as text files, then
    READ BACK and re-parsed with an explicit schema; the audit
    aggregates the parsed payload and must match the source table —
    proving the export round-trips every document byte-exactly through
    JSON encoding (quotes, newlines-in-text, unicode escapes — exactly
    what hand-rolled JSON writers get wrong).  Scale: both directions
    are pure column expressions around a distributed text sink/scan;
    JSONL stays line-splittable, so unlike multiline CSV
    (src_csv_multiline) parallelism survives."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    payload = d.select(
        F.to_json(
            F.struct(
                F.struct(F.col("doc_id").alias("id"), F.col("lang").alias("lang")).alias(
                    "meta"
                ),
                F.array(
                    F.struct(
                        F.lit("user").alias("role"),
                        F.lit("Summarize the document.").alias("content"),
                    ),
                    F.struct(
                        F.lit("assistant").alias("role"), F.col("text").alias("content")
                    ),
                ).alias("messages"),
            )
        ).alias("value")
    )
    out = scratch_dir(spark, "udp_jsonl_")
    payload.write.mode("overwrite").text(out)
    schema = (
        "meta struct<id: long, lang: string>, "
        "messages array<struct<role: string, content: string>>"
    )
    back = (
        spark.read.text(out)
        .select(F.from_json("value", schema).alias("r"))
        .select(
            F.col("r.meta.id").alias("doc_id"),
            F.col("r.meta.lang").alias("lang"),
            F.element_at("r.messages", 2).getField("content").alias("text"),
        )
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).cast("long").alias("payload_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )

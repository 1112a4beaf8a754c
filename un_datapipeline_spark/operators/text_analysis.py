"""Text-analysis operators for training-data curation (beyond SURVEY §2:
language-ID, quality scoring, fingerprinting — the operations a 100 TB
LLM data pipeline layers on top of the relational core).

All scoring is Column-expression math over one scan; the profile-based
language model is a two-pass aggregate (build tiny per-lang profiles,
broadcast them back) — the profile side is vocabulary-bounded, never
corpus-bounded, so the plan is scan + broadcast join at any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel

from un_datapipeline_spark import scale
from un_datapipeline_spark.session import ckpt
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import load_table

# Fixed stopword list for quality scoring (language-agnostic tiny set —
# a real pipeline plugs a per-language lexicon in here).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")


# Order-immune display-average lane (PARITY.md), shared by every op in
# this module that reports a mean of per-row doubles: each per-row ratio
# is a bit-exact double on both engines (one division of exact ints,
# identical expression trees), but a plain avg() SUMS those doubles in
# engine-specific order — a 1-ulp spread that can split a .5-grid 6dp
# rounding (observed on the degenerate corpus).  So each row's value is
# first SNAPPED to integer 1e-8 units (identical BIGINT both sides), the
# sum is exact-integer and order-free, and one float division + the
# explicit floor(x+0.5) rounds for display.
def _snap8(c):
    return F.floor(c * 100_000_000 + F.lit(0.5)).cast("long")


def _avg6(snapped_sum, n):
    return F.floor(snapped_sum.cast("double") / (n * 100.0) + F.lit(0.5)) / 1_000_000

_QUALITY_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       floor(CAST(sum(n_tokens) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS avg_tokens,
       floor(CAST(sum(CAST(floor(avg_tok_len * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 100.0) + 0.5) / 1000000 AS avg_tok_len,
       floor(CAST(sum(CAST(floor(alpha_ratio * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 100.0) + 0.5) / 1000000 AS avg_alpha_ratio,
       floor(CAST(sum(CAST(floor(stop_ratio * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 100.0) + 0.5) / 1000000 AS avg_stop_ratio,
       floor(CAST(sum(CAST(floor(quality * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 100.0) + 0.5) / 1000000 AS avg_quality,
       CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM (
  SELECT lang,
         len(toks) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_tok_len,
         CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(len(list_filter(toks, t -> list_contains({list(STOPWORDS)}, t))) AS DOUBLE)
           / len(toks) AS stop_ratio
  FROM (SELECT lang, text, string_split(text, ' ') AS toks FROM documents)
)
, LATERAL (SELECT 0.25 * least(n_tokens / 50.0, 1.0)
                + 0.25 * least(avg_tok_len / 5.0, 1.0)
                + 0.25 * alpha_ratio
                + 0.25 * least(stop_ratio * 5.0, 1.0) AS quality)
GROUP BY lang
"""


@register("llm_quality_score", oracle=_QUALITY_ORACLE, tier="T3")
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score from length / token-shape / alphabetic
    / stopword ratios, combined into a [0,1] keep-score; reported as
    per-language aggregates + keep counts.  Pure per-row Column math —
    one scan, one 5-key shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_tok_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_tokens
    # greatest(length, 1): an empty document is a DIVIDE_BY_ZERO under
    # ANSI Spark while DuckDB silently NULLs — the ADVICE r05 short-input
    # class.  Numerator is 0 whenever the guard engages, so the ratio is
    # a clean 0.0 on both engines.
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-zA-Z ]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / n_tokens
    )
    quality = (
        0.25 * F.least(n_tokens / 50.0, F.lit(1.0))
        + 0.25 * F.least(avg_tok_len / 5.0, F.lit(1.0))
        + 0.25 * alpha_ratio
        + 0.25 * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    scored = d.select(
        "lang",
        n_tokens.alias("n_tokens"),
        avg_tok_len.alias("avg_tok_len"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )
    # Display averages go through the module-level _snap8/_avg6
    # order-immune lane (see its comment for why plain avg() diverges).
    n = F.count(F.lit(1))
    return scored.groupBy("lang").agg(
        n.alias("n_docs"),
        (
            F.floor(
                F.sum("n_tokens").cast("double") / n * 1_000_000 + F.lit(0.5)
            )
            / 1_000_000
        ).alias("avg_tokens"),
        _avg6(F.sum(_snap8(F.col("avg_tok_len"))), n).alias("avg_tok_len"),
        _avg6(F.sum(_snap8(F.col("alpha_ratio"))), n).alias("avg_alpha_ratio"),
        _avg6(F.sum(_snap8(F.col("stop_ratio"))), n).alias("avg_stop_ratio"),
        _avg6(F.sum(_snap8(F.col("quality"))), n).alias("avg_quality"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
    )


_LANG_ID_ORACLE = """
WITH words AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
), profile AS (
  -- lang IS NOT NULL (round 9, class 2/3): an unknown-language doc
  -- cannot seed a profile — a NULL p_lang would also poison the
  -- classifier's tie-break (Spark orders NULL first ASC, DuckDB last).
  -- NULL-lang docs are still CLASSIFIED (true-lang NULL rows below).
  SELECT lang AS p_lang, word FROM (
    SELECT lang, word,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, word) AS rn
    FROM words WHERE word <> '' AND lang IS NOT NULL GROUP BY lang, word
  ) WHERE rn <= 10
), scores AS (
  SELECT w.doc_id, w.lang, p.p_lang, CAST(count(*) AS BIGINT) AS hits
  FROM (SELECT DISTINCT doc_id, lang, word FROM words WHERE word <> '') w
  JOIN profile p USING (word)
  GROUP BY w.doc_id, w.lang, p.p_lang
), best AS (
  SELECT doc_id, lang, p_lang AS predicted
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY hits DESC, p_lang) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
FROM best GROUP BY lang, predicted
"""


@register("llm_lang_id", oracle=_LANG_ID_ORACLE, tier="T3")
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-based language identification: top-10 words per language
    form each language's profile; every document is classified to the
    profile it shares the most distinct words with (ties → lang name).
    Output is the (true lang × predicted) confusion matrix.

    Scale shape: profiles are 5×10 rows (broadcast); the doc-side join
    touches each distinct (doc, word) once — no quadratic blowup.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    wp = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    # unknown-language docs don't seed profiles (see oracle note); they
    # are still classified against the known-language profiles below
    profile = (
        words.filter(F.col("lang").isNotNull())
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 10)
        .select(F.col("lang").alias("p_lang"), "word")
    )
    doc_words = words.dropDuplicates(["doc_id", "lang", "word"])
    scores = (
        doc_words.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("p_lang"))
    best = (
        scores.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("p_lang").alias("predicted"))
    )
    return best.groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n"))


_TOKENIZE_ORACLE = """
SELECT lang,
       CAST(sum(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS bpe_ish_tokens,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)   AS ws_tokens,
       floor(CAST(sum(CAST(floor(CAST(length(text) AS DOUBLE)
             / greatest(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')), 1)
             * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / (count(*) * 100.0) + 0.5) / 1000000 AS chars_per_token
FROM documents
GROUP BY lang
"""


@register("llm_token_count_bpe", oracle=_TOKENIZE_ORACLE, tier="T3")
def llm_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs /
    digit runs / single punctuation — the shape GPT-style tokenizers
    split on first) next to plain whitespace counts, plus chars-per-token
    — the standard corpus-sizing statistic."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)
    ws = F.split("text", " ")
    return d.groupBy("lang").agg(
        F.sum(F.size(bpe)).cast("long").alias("bpe_ish_tokens"),
        F.sum(F.size(ws)).cast("long").alias("ws_tokens"),
        # greatest(size, 1): empty text has zero BPE-ish tokens — ANSI
        # Spark would DIVIDE_BY_ZERO where DuckDB NULLs; guarded on both
        # engines so an empty doc contributes 0.0 chars-per-token to avg.
        # Display average through the shared _snap8/_avg6 order-immune
        # lane (ADVICE r06 — the same lane llm_quality_score uses).
        _avg6(
            F.sum(
                _snap8(
                    F.length("text").cast("double")
                    / F.greatest(F.size(bpe), F.lit(1))
                )
            ),
            F.count(F.lit(1)),
        ).alias("chars_per_token"),
    )


def _fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, h) sampled fingerprints: xxhash64 of every 8-char shingle,
    kept when h ≡ 0 (mod 16) — a deterministic content-defined ~6% sample.

    Prefix-capped SIGNATURE (round 10, bounded-prefix contract,
    tables.SIG_PREFIX_CHARS): the rolling shingle explode is linear in
    doc length, and one 520 KB outlier stalls its task >90 s — the cap
    bounds every per-doc kernel; a 64 KB prefix fingerprint is as
    selective for containment candidates as the full text."""
    # linear build (dedup_extras.ngram_array over the char array): the
    # substring-per-index lambda re-evaluated the O(cap) substring per
    # element — O(cap²) per doc, 84 s for one 520 KB doc (bigdoc probe).
    from un_datapipeline_spark.operators.dedup_extras import ngram_array
    from un_datapipeline_spark.tables import capped_text

    # sub-8-char docs contribute their whole text as one shingle, like
    # the old greatest(len-7, 1) sequence formulation
    shingles = F.when(
        F.length(capped_text()) < 8, F.array(capped_text())
    ).otherwise(ngram_array(F.split(capped_text(), ""), 8, sep=""))
    return (
        d.select("doc_id", F.explode(F.array_distinct(shingles)).alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .filter(F.pmod("h", F.lit(16)) == 0)
        .dropDuplicates(["doc_id", "h"])
    )


@register("llm_doc_fingerprint", oracle=None, tier="T3")
def llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by hash sampling (winnowing-style): hash
    every 8-char shingle, keep those ≡ 0 (mod 16) — a deterministic ~6%
    content-defined sample that survives local edits.  Output: per-doc
    fingerprint count + the docs sharing every fingerprint with another
    doc (containment candidates).  Rows-only: xxhash64 is not
    reproducible in the oracle; identity invariants live in
    tests/test_llm_invariants.py."""
    d = load_table(spark, sf_dir, "documents")
    # Round-12 optimization: the fingerprint stream (shingle explosion +
    # hash + mod-16 filter — the op's expensive stage) feeds both the
    # df-cap aggregate AND the anti-join left side; checkpointing the ~6%
    # sample once runs the heavy stage once (solo sf0.1: 23.0 s → 13.7 s).
    raw = _fingerprints(d).transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    # The hub cap before the self-join (scale.drop_hot): a boilerplate
    # fingerprint present in df documents contributes df² rows to the
    # h-join bucket, unbounded at corpus scale.  Dropping it on BOTH the
    # pair sides AND the per-doc counts keeps `shared == n_fp` consistent
    # over the surviving sample; boilerplate hashes carry no containment
    # signal (a doc whose every fingerprint is boilerplate leaves the
    # candidate set — the documented trade at scale.MAX_GRAM_DF).
    fp = scale.drop_hot(raw, ["h"])
    counts = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    # containment: pairs sharing fingerprints, scored by overlap count
    pairs = scale.co_occurrence(fp, "doc_id", ["h"], "x.doc_id < y.doc_id")
    return (
        pairs.join(counts.withColumnRenamed("doc_id", "a"), "a")
        .filter(F.col("shared") == F.col("n_fp"))  # a fully contained in b
        .select("a", "b", "shared")
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# Type-token ratio (lexical diversity)
# ---------------------------------------------------------------------------

_TTR_ORACLE = """
WITH toked AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       ROUND(CAST(sum(len(list_distinct(toks))) AS BIGINT)
             / CAST(sum(len(toks)) AS BIGINT), 6) AS corpus_ttr,
       ROUND(min(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6)
         AS min_doc_ttr,
       ROUND(max(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6)
         AS max_doc_ttr
FROM toked
GROUP BY lang
"""


@register("llm_type_token_ratio", oracle=_TTR_ORACLE, tier="T3")
def llm_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity screening: per-language type-token ratios
    (distinct words / total words), corpus-level and per-doc extremes —
    low TTR flags keyword-stuffed or template text that repetition rules
    miss.  All ratios are single divisions of exact integer sums.

    Scale shape: distinct-per-doc is per-row array math (array_distinct
    in codegen — no shuffle); only the 5-key language rollup exchanges.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
    )
    doc_ttr = F.col("n_types").cast("double") / F.col("n_toks")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("n_types") / F.sum("n_toks").cast("double"), 6
        ).alias("corpus_ttr"),
        F.round(F.min(doc_ttr), 6).alias("min_doc_ttr"),
        F.round(F.max(doc_ttr), 6).alias("max_doc_ttr"),
    )


_WATERMARK_ORACLE = """
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0
              THEN substr(text, 1, 10) || chr(8203) || substr(text, 11, 10)
                   || chr(8203) || substr(text, 21)
              ELSE text END AS wm_text
  FROM documents
), audit AS (
  SELECT source,
         CAST(wm_text LIKE '%' || chr(8203) || '%' AS INT) AS has_wm,
         length(wm_text) - length(replace(wm_text, chr(8203), '')) AS n_marks,
         CAST(replace(wm_text, chr(8203), '')
              LIKE '%' || chr(8203) || '%' AS INT) AS still_marked
  FROM planted
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(has_wm) AS BIGINT) AS n_watermarked,
       CAST(sum(n_marks) AS BIGINT) AS n_marks_removed,
       CAST(sum(still_marked) AS BIGINT) AS n_still_marked
FROM audit GROUP BY source
"""


@register("llm_watermark_strip", oracle=_WATERMARK_ORACLE, tier="T2")
def llm_watermark_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-width-character watermark detection and stripping: one in
    five documents gets two U+200B marks planted at fixed offsets, then
    the audit counts marked docs, removes the marks, and proves removal
    left none behind — the invisible-character hygiene pass any LLM
    training corpus needs (zero-width marks survive copy-paste,
    tokenize into garbage, and are a known provenance-tagging channel).
    Pure string expressions per row (narrow map, no shuffle until the
    per-source rollup); the oracle plants the identical marks so the
    strip accounting is hash-verified end to end."""
    zwsp = "\u200b"
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.substring("text", 1, 10),
                F.lit(zwsp),
                F.substring("text", 11, 10),
                F.lit(zwsp),
                F.expr("substr(text, 21)"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("wm_text"),
    )
    stripped = F.regexp_replace("wm_text", zwsp, "")
    audit = planted.select(
        "source",
        F.col("wm_text").contains(zwsp).cast("int").alias("has_wm"),
        (F.length("wm_text") - F.length(stripped)).alias("n_marks"),
        stripped.contains(zwsp).cast("int").alias("still_marked"),
    )
    return audit.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("has_wm").alias("n_watermarked"),
        F.sum("n_marks").alias("n_marks_removed"),
        F.sum("still_marked").alias("n_still_marked"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (pointwise mutual information over co-occurrence windows)
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 5
_PMI_TOPK = 25

_PMI_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
), toks AS (
  SELECT doc_id, unnest(words) AS w FROM docs
), pairs AS (
  -- Parallel unnest of two BOUND shifted slices per offset k — the
  -- zip-of-shifted-slices doctrine (tables.ngram_zip_sql), linear per
  -- document.  NOT a positional self-join on doc_id (the equality key
  -- makes DuckDB hash-join on doc_id and band-FILTER token² pairs per
  -- document: 460 s for ONE 80k-token doc on the round-12 bigdoc
  -- catalog; IEJoin only applies to pure-inequality conditions), and
  -- NOT a correlated LATERAL index enumeration either (the lateral row
  -- carries a COPY of the list column per generated row — the same
  -- catalog measured the plain toks LATERAL at 163 s; element access
  -- is cheap but the carried list is not).  WHERE n > k keeps slice
  -- bounds positive: a non-positive end index would wrap to DuckDB's
  -- from-the-end indexing and emit spurious unpaired tokens.
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM (
    SELECT unnest(words[1 : n - kk.k]) AS w1,
           unnest(words[1 + kk.k : n]) AS w2
    FROM docs CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) kk
    WHERE n > kk.k
  )
  WHERE w1 < w2
  GROUP BY w1, w2 HAVING count(*) >= {_PMI_MIN_PAIR}
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT w1, w2, c_ab, u1.c AS c_w1, u2.c AS c_w2,
       CAST((c_ab * n * 1000000) // (u1.c * u2.c) AS BIGINT) AS pmi_scaled
FROM pairs
JOIN uni u1 ON u1.w = pairs.w1
JOIN uni u2 ON u2.w = pairs.w2
CROSS JOIN tot
ORDER BY pmi_scaled DESC, w1, w2 LIMIT {_PMI_TOPK}
"""


@register("llm_pmi_collocations", oracle=_PMI_ORACLE, tier="T3")
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations — the corpus-statistics pass that surfaces
    multi-word expressions ("new york"-style bound pairs) for tokenizer
    vocab construction and phrase mining: co-occurrence counts within a
    3-token forward window, ranked by pointwise mutual information
    P(a,b)/(P(a)P(b)).

    Determinism lane (scaled rational): the PMI ratio reduces to
    c_ab·N / (c_a·c_b) — a single integer division after a ×10⁶ scale,
    so the RANKING key is exact BIGINT (the lane-2 discipline: floats
    feeding an ORDER BY are where 1 ulp changes membership, so no float
    is allowed anywhere near the sort).

    Scale shape: co-occurrence pairs are built PER ROW as three
    shifted-slice zip_withs (offsets 1..3) over the materialized token
    array — O(3·len) per document — then one hash agg on the
    vocabulary-bounded (w1, w2) key.  NOT a position-band self-join on
    doc_id: that shape hash-partitions on doc_id and evaluates the band
    condition for every token², so ONE 80k-token document is a 6.4e9-
    comparison straggler task (measured on the round-12 bigdoc catalog;
    the same hot-key mechanism as llm_dedup_fuzzy_edit's r11 rewrite).
    Unigram joins hit small aggregated sides and the top-k is
    TakeOrdered.  The min-count floor ({_PMI_MIN_PAIR}) bounds the pair
    table exactly like llm_dedup_ngram_jaccard's df-cap bounds
    shingles."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    tarr = F.col("toks")
    toks = d.select("doc_id", F.posexplode(tarr).alias("pos", "w"))

    def offset_pairs(k: int):
        ln = F.greatest(F.size(tarr) - k, F.lit(0))
        return F.zip_with(
            F.slice(tarr, 1, ln),
            F.slice(tarr, k + 1, ln),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        )

    pairs = (
        d.select(
            F.explode(
                F.concat(offset_pairs(1), offset_pairs(2), offset_pairs(3))
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    return (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_w1",
            "c_w2",
            # exact BIGINT division (DIV) — floor(double/double) loses
            # exactness past 2^53, which sf0.1 magnitudes reach
            F.expr("(c_ab * n * 1000000) DIV (c_w1 * c_w2)")
            .cast("long")
            .alias("pmi_scaled"),
        )
        .orderBy(F.col("pmi_scaled").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# BM25 ranking (fixed query, closed form over exact counts)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "query", "join")
_BM25_TOPK = 20
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_term_sql(t: str) -> str:
    tf = f"len(list_filter(ws, x -> x = '{t}'))"
    df = f"df_{t}"
    return (
        f"ln((n_docs - {df} + 0.5) / ({df} + 0.5) + 1.0)"
        f" * ({tf} * {1.0 + _BM25_K1})"
        f" / ({tf} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * n_words / avglen))"
    )


_BM25_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         sum(n_words) * 1.0 / count(*) AS avglen,
         {', '.join(
             f"CAST(sum(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
             for t in _BM25_TERMS)}
  FROM toked
)
SELECT doc_id,
       {', '.join(
           f"CAST(len(list_filter(ws, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
           for t in _BM25_TERMS)},
       n_words,
       ROUND({' + '.join(_bm25_term_sql(t) for t in _BM25_TERMS)}, 6) AS bm25
FROM toked CROSS JOIN stats
ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
"""


@register("llm_bm25_rank", oracle=_BM25_ORACLE, tier="T3")
def llm_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking — the lexical-retrieval baseline every RAG stack
    pairs with vector search (llm_simsearch_* covers the dense side;
    this is the sparse side): a fixed 3-term query scored with the
    Robertson/Okapi formula (k1={k1}, b={b}, the +1 idf variant that
    never goes negative).

    Determinism lane 4: tf, df, doc length and corpus size are exact
    integers; each term's score is ONE float expression with identical
    literal structure on both engines, and the 3-term sum is written as
    a FIXED-ORDER a+b+c (never a row-wise SUM whose accumulation order
    floats) — so ranking and 6dp scores are bit-reproducible.

    Scale shape: corpus stats (N, avg length, per-term df) reduce to a
    single broadcastable row; scoring is a scan-side column expression
    over that row; top-k is TakeOrdered.  An inverted-index engine beats
    a scan at interactive latency, but for BATCH eval sweeps (score 10k
    queries over the corpus for retrieval benchmarks) the scan
    formulation is exactly what a Spark cluster wants."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    toked = d.select(
        "doc_id",
        words.alias("ws"),
        F.size(words).cast("long").alias("n_words"),
    )
    stat_aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        (F.sum("n_words") * 1.0 / F.count(F.lit(1))).alias("avglen"),
    ] + [
        F.sum(F.when(F.array_contains("ws", t), 1).otherwise(0))
        .cast("long")
        .alias(f"df_{t}")
        for t in _BM25_TERMS
    ]
    stats = toked.agg(*stat_aggs)
    scored = toked.crossJoin(F.broadcast(stats))

    def term_score(t: str):
        tf = F.size(F.filter("ws", lambda x: x == F.lit(t)))
        df = F.col(f"df_{t}")
        idf = F.log(
            (F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0
        )
        return idf * (tf * (1.0 + _BM25_K1)) / (
            tf
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("n_words") / F.col("avglen"))
        )

    def eq_term(t: str):
        # NB: a (x, t=t) two-param lambda would make F.filter pass the
        # ELEMENT INDEX as the second argument — closure instead.
        return lambda x: x == F.lit(t)

    t1, t2, t3 = (term_score(t) for t in _BM25_TERMS)
    out = scored.select(
        "doc_id",
        *[
            F.size(F.filter("ws", eq_term(t))).cast("long").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
        "n_words",
        F.round(t1 + t2 + t3, 6).alias("bm25"),
    )
    return out.orderBy(F.col("bm25").desc(), "doc_id").limit(_BM25_TOPK)


llm_bm25_rank.__doc__ = llm_bm25_rank.__doc__.format(k1=_BM25_K1, b=_BM25_B)


# ---------------------------------------------------------------------------
# Domain routing (keyword-density heuristic)
# ---------------------------------------------------------------------------

_DOMAIN_STRONG = r"\b(scan|sort|merge|hash|join|query)\b"
_DOMAIN_WEAK = r"\b(spark|table|window)\b"


_DOMAIN_ORACLE = f"""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         CAST(len(regexp_extract_all(lower(text), '{_DOMAIN_STRONG}'))
              AS BIGINT) AS n_strong,
         CAST(len(regexp_extract_all(lower(text), '{_DOMAIN_WEAK}'))
              AS BIGINT) AS n_weak
  FROM documents
), banded AS (
  SELECT source,
         (n_strong * 2 + n_weak) * 1000000 // greatest(n_chars, 1)
           AS score_ppm
  FROM scored
)
SELECT CASE WHEN score_ppm >= 110000 THEN 'technical'
            WHEN score_ppm >= 80000 THEN 'mixed'
            ELSE 'general' END AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score_ppm) AS BIGINT) AS score_ppm_sum,
       CAST(min(score_ppm) AS BIGINT) AS score_ppm_min,
       CAST(max(score_ppm) AS BIGINT) AS score_ppm_max
FROM banded GROUP BY 1 ORDER BY band
"""


@register("llm_domain_route", oracle=_DOMAIN_ORACLE, tier="T3")
def llm_domain_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain routing — the corpus-composition gate that tags each
    document with a domain band so downstream mixture weighting
    (etl_domain_mixture / llm_interleave_schedule) can rebalance
    sources: a two-tier keyword-density score (strong markers x2, weak
    markers x1, per-char x10^6) banded into technical / mixed /
    general.  The same shape, with a code-marker lexicon (semicolons,
    braces, def/class/return), is the code-vs-prose router; with a
    language lexicon it is a fastText-style domain filter — the lexicon
    is config, the plan is identical.

    Cross-engine hazard pinned here: the scoring regexes run on Java's
    regex engine in Spark and RE2 in DuckDB — patterns stay inside the
    shared-semantics subset (alternation + word boundaries, no
    backrefs/lookaround), and on the Spark side they enter through
    F.lit, never an F.expr string literal (Spark SQL would eat the \\b
    as a backspace escape before the regex engine saw it).

    Determinism lane (exact integer): keyword counts are regexp_count
    integers, the density is one x10^6 integer division by n_chars —
    band membership can't flip on a float ulp.

    Scale shape: pure column expressions (one scan, no shuffle until
    the 3-row band agg) — the same shape as llm_quality_score; at
    100 TB this rides whatever scan the quality funnel already does."""
    d = load_table(spark, sf_dir, "documents")
    score = (
        F.regexp_count(F.lower("text"), F.lit(_DOMAIN_STRONG)) * 2
        + F.regexp_count(F.lower("text"), F.lit(_DOMAIN_WEAK))
    ).cast("long")
    banded = d.select(
        "source",
        F.col("n_chars").cast("long").alias("nc"),
        score.alias("raw"),
    ).select(
        "source",
        F.expr("(raw * 1000000) DIV greatest(nc, 1)")
        .cast("long")
        .alias("score_ppm"),
    )
    return (
        banded.select(
            F.when(F.col("score_ppm") >= 110000, "technical")
            .when(F.col("score_ppm") >= 80000, "mixed")
            .otherwise("general")
            .alias("band"),
            "score_ppm",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_ppm").cast("long").alias("score_ppm_sum"),
            F.min("score_ppm").cast("long").alias("score_ppm_min"),
            F.max("score_ppm").cast("long").alias("score_ppm_max"),
        )
        .orderBy("band")
    )

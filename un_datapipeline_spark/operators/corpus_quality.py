"""Corpus-quality and curriculum operators (round 2 batch 3): the
document-level filtering / sampling / mixing passes that sit between
dedup and tokenization in a 100 TB LLM data pipeline — repetition
flagging (Gopher-style), cross-document boilerplate detection
(C4-style), stratified sampling, domain-mixture weighting, last-touch
attribution, and length-curriculum bucketing.

Scale posture: repetition stats are per-row array math (zero shuffle
beyond the per-doc word rollup); boilerplate grams shuffle on the gram
VOCABULARY; sampling/curriculum window only within (lang, source)
strata; the mixture table is dimension-sized and broadcast.  Every
fraction is a single int/int division (bit-identical across engines —
ROUND_NOTES.md float policy).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.operators.dedup_extras import (
    doc_trigrams,
    doc_trigrams_sql,
    ngram_array,
)
from un_datapipeline_spark.tables import (
    capped_text,
    capped_text_sql,
    load_table,
    winner_document,
    winner_document_sql,
    ngram_zip_sql,
)

# ---------------------------------------------------------------------------
# Gopher-style intra-document repetition flags
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])
         ELSE []::VARCHAR[] END AS bgs
  FROM toked
), bstats AS (
  SELECT doc_id, n_tokens,
         CAST(len(bgs) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(bgs)) AS BIGINT) AS n_distinct
  FROM bg
), tw AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_cnt
  FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM toked)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       ROUND(CASE WHEN b.n_bigrams > 0
             THEN 1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_bigrams
             ELSE 0.0 END, 6) AS dup_bigram_frac,
       ROUND(CAST(t.top_cnt AS DOUBLE) / b.n_tokens, 6) AS top_word_frac,
       CAST(CASE WHEN 1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_bigrams > 0.2
                   OR CAST(t.top_cnt AS DOUBLE) / b.n_tokens > 0.2
            THEN 1 ELSE 0 END AS INT) AS flagged
FROM bstats b JOIN tw t USING (doc_id)
"""


@register("llm_repetition_flags", oracle=_REPETITION_ORACLE, tier="T3")
def llm_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality flags: per document, the fraction
    of duplicated word-bigrams (1 - distinct/total) and the most-frequent
    word's share of all tokens; ``flagged`` marks docs past the 0.2
    thresholds the Gopher rules use for removal.

    Scale shape: the bigram stats are pure per-row array expressions
    (shifted-slice zip_with via ngram_array — whole-stage codegen, zero
    shuffle); the top-word count is one explode keyed by doc_id,
    partial-aggregated.  No corpus-wide state anywhere, so the pass is
    embarrassingly parallel at any scale.

    Round-12 straggler fix: the original bigram build was
    ``transform(sequence(1, size-1), i -> concat_ws(element_at(toks, i),
    element_at(toks, i+1)))`` with ``toks = split(text)`` — the exact
    outer-expression-in-HOF-lambda trap ngram_array's docstring
    documents: the split re-evaluates PER ELEMENT, O(len²) per document
    (measured: ONE 80k-word doc held the --bigdoc sweep for >10 min;
    this op was in the round-10 catalog's never-ran tail).  Tokens are
    now materialized once and the bigrams come from the linear
    ngram_array build; text stays UNCAPPED deliberately — Gopher flags
    are whole-document semantics."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    # NULL text → NULL toks: keep the empty-array contract (both engines
    # report 0 bigrams for a NULL document, r9 nulls class)
    bgs = F.when(F.size(toks) >= 2, ngram_array(toks, 2)).otherwise(
        F.array().cast("array<string>")
    )
    bstats = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(bgs).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bgs)).cast("long").alias("n_distinct"),
    )
    tw = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_cnt"))
    )
    dup_frac = F.when(
        F.col("n_bigrams") > 0,
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    return bstats.join(tw, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        F.round(top_frac, 6).alias("top_word_frac"),
        F.when((dup_frac > 0.2) | (top_frac > 0.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("flagged"),
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate n-gram detection
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = f"""
WITH toked AS (
  -- linear 8-gram build: tables.ngram_zip_sql (the LATERAL slice form
  -- copies an O(len) list per row — quadratic)
  SELECT doc_id, string_split({capped_text_sql()}, ' ') AS toks,
         len(string_split({capped_text_sql()}, ' ')) AS n
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, md5(g) AS g FROM (
    SELECT doc_id, unnest({ngram_zip_sql("toks", "n")}) AS g
    FROM toked WHERE n >= 8
  )
), bp AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), hit AS (
  SELECT doc_id, count(*) AS n_bp
  FROM grams WHERE g IN (SELECT g FROM bp)
  GROUP BY doc_id
)
SELECT h.doc_id,
       CAST(h.n_bp AS BIGINT) AS n_bp,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       ROUND(CAST(h.n_bp AS DOUBLE) / t.n_grams, 6) AS bp_frac
FROM hit h JOIN tot t USING (doc_id)
"""


@register("llm_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE, tier="T3")
def llm_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detection: a word-8-gram appearing in ≥2
    distinct documents is boilerplate (headers, license blurbs, templated
    spans); emit each affected doc's boilerplate-gram count and fraction.

    Scale shape: (doc, gram) pairs shuffle keyed by gram VOCABULARY —
    the doc-frequency rollup is a partial-aggregated groupBy, never a
    pair join; the per-doc counts shuffle once on doc_id.  At 100 TB the
    gram stream is the same plan MinHash banding uses, and hot grams
    (true boilerplate) stay bounded because the per-gram state is one
    counter, not a pair list."""
    d = load_table(spark, sf_dir, "documents")
    # prefix-capped gram SIGNATURES (bounded-prefix contract): one
    # 520 KB doc otherwise dominates the corpus gram table and stalls
    # its task >90 s
    toks = F.split(capped_text(), " ")
    # linear 8-gram build (dedup_extras.ngram_array): the explode-an-
    # index-then-slice-the-array-column pattern materializes a COPY of
    # the token array per exploded row — O(words²) bytes per doc, the
    # bigdoc probe's 100 s mechanism here
    gram_arr = F.when(F.size(toks) >= 8, ngram_array(toks, 8)).otherwise(
        F.array().cast("array<string>")
    )
    # distinct() is GLOBAL (not just in-array): a duplicate surrogate
    # key delivers two rows whose gram sets overlap — the per-doc gram
    # SET must union them exactly as the oracle's SELECT DISTINCT does
    grams = (
        d.select("doc_id", F.explode(F.array_distinct(gram_arr)).alias("gt"))
        .select("doc_id", F.md5("gt").alias("g"))
        .distinct()
    )
    bp = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") >= 2)
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        grams.join(bp.select("g"), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bp"))
    )
    return hit.join(tot, "doc_id").select(
        "doc_id",
        "n_bp",
        "n_grams",
        F.round(F.col("n_bp").cast("double") / F.col("n_grams"), 6).alias("bp_frac"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

_STRATIFIED_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang, source) AS n_stratum
  FROM documents
)
SELECT doc_id, lang, source,
       CAST(rn AS BIGINT) AS rn,
       CAST(n_stratum AS BIGINT) AS n_stratum
FROM ranked
WHERE rn <= (n_stratum + 9) // 10
"""


@register("etl_stratified_sample", oracle=_STRATIFIED_ORACLE, tier="T2")
def etl_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-per-stratum sample over (lang, source): rank docs inside
    each stratum by md5(doc_id) — a deterministic, data-independent
    shuffle order — and keep the first ceil(n/10).  Guarantees every
    stratum is represented (plain Bernoulli sampling under-covers small
    strata), which is what evaluation-set construction needs.

    Scale shape: one shuffle keyed by the stratum; the window never sees
    more than a stratum's width.  The md5 order means re-runs and
    engine changes keep the same sample — no RNG state."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wc = Window.partitionBy("lang", "source")
    ranked = d.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n_stratum"),
    )
    return ranked.filter(
        F.col("rn") <= F.expr("(n_stratum + 9) div 10")
    )


# ---------------------------------------------------------------------------
# Domain-mixture weighting
# ---------------------------------------------------------------------------

_MIXTURE_ORACLE = """
WITH tok AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
), per AS (
  SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_sources
  FROM per
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS actual_frac,
       ROUND(CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens), 6) AS mix_weight
FROM per, tot
"""


@register("etl_domain_mixture", oracle=_MIXTURE_ORACLE, tier="T2")
def etl_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weighting: per-source token share and the
    upsampling weight that equalizes every source to a uniform target
    mixture (weight = target_frac / actual_frac).  This is the table a
    sampler joins (broadcast) against the corpus to hit a prescribed
    domain mix — the DoReMi-style knob with fixed uniform targets.

    Scale shape: one partial-aggregated shuffle to source granularity
    (dimension-sized), a single-row grand total cross-joined broadcast.
    Both fractions are one division of exact integer sums —
    bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(F.split("text", " ")).cast("long").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("total_tokens"), 6).alias(
            "actual_frac"
        ),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens")),
            6,
        ).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH attr AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS src_event_id
  FROM events
)
SELECT a.event_id AS purchase_id,
       a.user_id,
       a.src_event_id,
       s.event_type AS src_type,
       epoch_us(a.ts) - epoch_us(s.ts) AS gap_us
FROM attr a LEFT JOIN events s ON s.event_id = a.src_event_id
WHERE a.event_type = 'purchase'
"""


@register("win_funnel_attribution", oracle=_ATTRIBUTION_ORACLE, tier="T2")
def win_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent earlier non-purchase event; emit the attributed event,
    its type, and the gap in microseconds (exact integer — both engines
    subtract the same epoch-µs longs).  Purchases with no prior touch
    keep NULL attribution (first-event conversions are a real cohort).

    Scale shape: one shuffle keyed by user_id; the window runs inside
    each user's (small) event history.  The detail join back to events is
    an equi-join on event_id — shuffle-hash at scale, and AQE converts it
    to broadcast when the purchase slice is small."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_id")),
            ignorenulls=True,
        )
        .over(w)
        .alias("src_event_id"),
    ).filter(F.col("event_type") == "purchase")
    s = e.select(
        F.col("event_id").alias("src_event_id"),
        F.col("event_type").alias("src_type"),
        F.col("ts").alias("src_ts"),
    )
    return attr.join(s, "src_event_id", "left").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "src_event_id",
        "src_type",
        (F.unix_micros("ts") - F.unix_micros("src_ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Length-curriculum bucketing
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH b AS (
  SELECT lang, doc_id, n_chars,
         ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT lang,
       CAST(decile AS INT) AS decile,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b
GROUP BY lang, decile
"""


@register("llm_length_curriculum", oracle=_CURRICULUM_ORACLE, tier="T2")
def llm_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum buckets: per-language deciles by document
    length (ntile over a fully-tied-down order), with per-bucket count
    and char-sum — the schedule table a curriculum sampler reads to feed
    short docs first and long docs later in training.

    Scale shape: ntile needs a per-language total order — fine when
    partitioned by lang (bounded width per language); for a single
    monster language at 100 TB, switch to the two-phase quantile pattern
    (approx percentile cutpoints broadcast, then a bucketing join) that
    agg_histogram uses."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    b = d.select("lang", "n_chars", F.ntile(10).over(w).alias("decile"))
    return b.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# BPE merge-step pair counting
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH toked AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), chars AS (
  SELECT w, string_split(w, '') AS cs FROM toked
), pairs AS (
  SELECT cs[i] || cs[i + 1] AS pair
  FROM chars, LATERAL (
    SELECT unnest(generate_series(1, len(cs) - 1)) AS i
  )
  WHERE len(cs) >= 2
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 50
"""


@register("llm_bpe_pair_counts", oracle=_BPE_ORACLE, tier="T3")
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide
    adjacent-character-pair frequencies, top-50 (the pair a trainer would
    merge first, and the next 49 candidates).  Subsequent iterations
    re-run the same plan over re-segmented words — each merge step IS
    this operator.

    Scale shape: word→char-pair explosion shuffles on the PAIR key —
    alphabet², a few hundred distinct keys regardless of corpus size —
    with partial aggregation collapsing each partition to that same tiny
    key set before the exchange.  The top-50 is a TakeOrdered, not a full
    sort."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    # Linear shifted-slice pair build (round-12 trap-class audit): the
    # previous transform(sequence(1, length-1), i -> concat(element_at(
    # cs, i), ...)) referenced the outer split expression INSIDE the
    # lambda, re-evaluating it per element — O(len²) per WORD.  Harmless
    # on prose (words are short) but a single unbroken 64 KB "word"
    # would quadratically stall exactly like the llm_repetition_flags
    # straggler this round's catalog caught.  ngram_array slices the
    # split result as ordinary once-per-row arguments instead.
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(ngram_array(F.split("w", ""), 2, sep="")).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH toked AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
    FROM toked GROUP BY w
  ) WHERE rn <= 500
)
SELECT t.lang,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_vocab,
       ROUND(sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6)
         AS coverage
FROM toked t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.lang
"""


@register("llm_vocab_coverage", oracle=_VOCAB_ORACLE, tier="T3")
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the top-500 corpus vocabulary,
    then measure per-language token coverage (1 − OOV rate) — the check
    that reveals when a tokenizer's vocab starves a language before
    training does.  Coverage is one int/int division.

    Scale shape: vocab construction is a word-keyed count + global
    top-k; the coverage pass joins the (tiny, broadcast) vocab onto the
    token stream — one scan, one vocabulary-keyed shuffle, never a
    corpus-keyed one."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    wv = Window.orderBy(F.desc("n"), "w")
    vocab = (
        toked.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= 500)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        toked.join(F.broadcast(vocab), "w", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).cast("long").alias("n_in_vocab"),
            F.round(
                F.sum(F.coalesce("in_vocab", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt
), scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         -avg(ln(c.c * 1.0 / tot.n)) AS s
  FROM toks t JOIN cnt c USING (w) CROSS JOIN tot
  GROUP BY t.doc_id
), stats AS (
  SELECT avg(s) AS mu, stddev_samp(s) AS sd FROM scored
)
SELECT doc_id, n_tokens,
       ROUND(s, 6) AS surprisal,
       CAST(CASE WHEN s > mu + 2 * sd THEN 1 ELSE 0 END AS INT) AS flag_outlier
FROM scored CROSS JOIN stats
ORDER BY doc_id
"""


@register("llm_perplexity_filter", oracle=_SURPRISAL_ORACLE, tier="T3")
def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter, with the corpus' own unigram LM as
    the scorer: per-document surprisal = −mean ln p(w) under the corpus
    unigram distribution, and documents more than 2σ above the corpus
    mean are flagged as outliers (rare-token soup — the population a
    perplexity filter cuts).

    Scale shape: the vocabulary is an AGGREGATE over the token explode
    (map-side combine → vocabulary-bounded shuffle); the token→count
    join is equi-key with exactly one match per token.  The 'the'-style
    hot keys skew that shuffle at 100 TB — the production plan broadcasts
    the head of the vocabulary (top-K counts cover >90% of token mass)
    and shuffle-joins only the tail, or leans on AQE skew-join; test
    scale keeps the single plain join so DuckDB replays it verbatim.
    Corpus mean/σ are a 2-row scalar aggregate crossed back in (no
    driver collect).  Sums of ln() terms are irrational doubles — 6dp
    rounding is boundary-safe (ROUND_NOTES float policy: only
    exact-decimal money sits on rounding-grid boundaries)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    scored = (
        toks.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.avg(F.log(F.col("c") / F.col("n")))).alias("s"),
        )
    )
    stats = scored.agg(
        F.avg("s").alias("mu"), F.stddev_samp("s").alias("sd")
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "n_tokens",
            F.round("s", 6).alias("surprisal"),
            F.when(F.col("s") > F.col("mu") + 2 * F.col("sd"), 1)
            .otherwise(0)
            .cast("int")
            .alias("flag_outlier"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dataset-card corpus statistics
# ---------------------------------------------------------------------------

_CARD_ORACLE = """
SELECT source, lang,
       CAST(count(*) AS BIGINT)                               AS docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT)      AS ws_tokens,
       ROUND(avg(n_chars), 6)                                 AS avg_chars,
       ROUND(quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE),
                           0.5), 4)                           AS p50_tokens,
       ROUND(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 6) AS dup_rate
FROM documents
GROUP BY source, lang
ORDER BY source, lang
"""


@register("llm_corpus_stats", oracle=_CARD_ORACLE, tier="T3")
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: the per-(source, lang) statistics table every
    corpus release ships — document and token volume, length centrals
    (mean chars, median tokens), and the exact-duplicate rate from
    distinct text hashes.  One groupBy over strata keys; the only
    non-trivially-mergeable piece is the median, which Spark computes
    with the same linear-interpolation semantics as DuckDB's
    quantile_cont (avg(n_chars) is an int-sum / count — exact).  At
    100 TB the stratum count stays dimension-sized, so the shuffle is
    vocabulary-bounded and the hot path is the map-side partial
    aggregation of token counts and md5 hashes."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(ntok).cast("long").alias("ws_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.median(ntok.cast("double")), 4).alias("p50_tokens"),
            F.round(
                1.0 - F.countDistinct(F.md5("text")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Filter-funnel accounting (per-stage survivor counts)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id,
         lang IN ('en', 'de', 'fr') AS lang_ok,
         len(string_split(text, ' ')) BETWEEN 20 AND 90 AS len_ok,
         (SELECT max(c) FROM (
            SELECT count(*) AS c
            FROM unnest(string_split(text, ' ')) AS u(w) GROUP BY w))
           * 1.0 / len(string_split(text, ' ')) <= 0.1 AS rep_ok
  FROM {winner_document_sql()} documents
)
SELECT CAST(count(*) AS BIGINT)                                   AS n_total,
       CAST(count(*) FILTER (lang_ok) AS BIGINT)                  AS pass_lang,
       CAST(count(*) FILTER (lang_ok AND len_ok) AS BIGINT)       AS pass_len,
       CAST(count(*) FILTER (lang_ok AND len_ok AND rep_ok) AS BIGINT)
         AS pass_all,
       ROUND(count(*) FILTER (lang_ok AND len_ok AND rep_ok) * 1.0
             / count(*), 6)                                       AS keep_rate
FROM per_doc
"""


@register("llm_filter_funnel", oracle=_FUNNEL_ORACLE, tier="T3")
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential filter-funnel accounting: how many documents survive
    each cleaning stage (language allowlist → token-length band →
    repetition cap) applied IN ORDER — the observability query every
    corpus pipeline runs before committing a filter change, because
    'this filter cuts 40%' means something different at stage 1 than
    stage 3.  One corpus scan: the repetition stage's per-doc max word
    frequency folds into the same pass via an aggregate-over-explode
    (word counts grouped per doc — shuffle keyed by doc_id, map-side
    combined), then the funnel is a single global aggregate of boolean
    conjunctions.  Flag semantics are deliberately simplified mirrors
    of llm_lang_filter_clean / llm_quality_score / llm_repetition_flags
    thresholds; the full operators remain the per-doc surface.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 3): the
    per-doc max word frequency groups by doc_id — a re-crawled id
    merges two texts' word counts and every downstream flag drifts
    (probed: keep_rate 0.280 vs 0.372).  Deterministic per-key winner
    on both sides.  Empty-relation contract (R10_EMPTY_PLAN class 2):
    a count of matches is a COUNT — 0 over an empty corpus, not a
    NULL-valued SUM of indicators (count_if ↔ count FILTER); keep_rate
    on zero documents is NULL on both engines (nullif-guarded — ANSI
    Spark would otherwise DIVIDE_BY_ZERO where DuckDB quietly NULLs)."""
    docs = winner_document(load_table(spark, sf_dir, "documents"))
    ntok = F.size(F.split("text", " "))
    maxfreq = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"))
    )
    per_doc = (
        # LEFT join (round 9, class 2): a NULL-text doc explodes to zero
        # word rows, so an inner join would drop it from n_total and
        # inflate keep_rate — the funnel must account for EVERY document
        # (its stage flags are NULL and it passes nothing, both engines).
        docs.join(maxfreq, "doc_id", "left")
        .select(
            F.col("lang").isin("en", "de", "fr").alias("lang_ok"),
            ntok.between(20, 90).alias("len_ok"),
            (F.col("max_c") * 1.0 / ntok <= 0.1).alias("rep_ok"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("lang_ok")).alias("pass_lang"),
        F.count_if(F.col("lang_ok") & F.col("len_ok")).alias("pass_len"),
        F.count_if(
            F.col("lang_ok") & F.col("len_ok") & F.col("rep_ok")
        ).alias("pass_all"),
        F.round(
            F.count_if(F.col("lang_ok") & F.col("len_ok") & F.col("rep_ok"))
            * 1.0
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# Temporal n-gram novelty
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH grams AS ({doc_trigrams_sql()}
), first_seen AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT)                                    AS n_grams,
       CAST(count(*) FILTER (f.first_doc = g.doc_id) AS BIGINT)    AS n_novel,
       ROUND(count(*) FILTER (f.first_doc = g.doc_id) * 1.0
             / count(*), 6)                                        AS novelty
FROM grams g JOIN first_seen f USING (gram)
WHERE g.doc_id % 7 = 0
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@register("llm_ngram_novelty", oracle=_NOVELTY_ORACLE, tier="T3")
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal novelty score: the fraction of each document's distinct
    word-3-grams never seen in any EARLIER document (doc_id = ingestion
    order) — the signal that separates fresh content from recombined
    boilerplate as a crawl accumulates, and the cheap precursor to full
    dedup (novelty ≈ 0 ⇒ candidate for the expensive pipeline).
    Scale shape: gram → min(doc_id) is a vocabulary-keyed aggregate
    (map-side combine collapses hot grams to ONE row each — no df-cap
    needed, unlike the pairwise joins); the join back is equi-key with
    exactly one match per gram occurrence.  In production the
    first-seen table is the persistent index a daily drop joins
    against, exactly like llm_dedup_incremental's digest index.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 2): a
    re-crawled doc_id would union two texts' gram sets (probed: n_grams
    45 vs 24) — the deterministic per-key winner (tables.
    winner_document, oracle-mirrored) restores one-set-per-id."""
    grams = doc_trigrams(load_table(spark, sf_dir, "documents"))
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "gram")
        .filter(F.col("doc_id") % 7 == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_CCNET_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
), tot AS (
  SELECT count(*) AS n FROM toks
), scored AS (
  SELECT doc_id, lang,
         count(*) AS n_tokens,
         CAST(sum(n // c) AS BIGINT) AS rarity
  FROM toks JOIN cnt USING (w) CROSS JOIN tot
  GROUP BY doc_id, lang
), bucketed AS (
  SELECT lang, n_tokens, rarity,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY rarity * 1.0 / n_tokens, doc_id) AS b
  FROM scored
)
SELECT lang,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens,
       ROUND(sum(rarity) * 1.0 / sum(n_tokens), 6) AS mean_rarity
FROM bucketed
GROUP BY lang, b
ORDER BY lang, min(b)
"""


@register("llm_ccnet_buckets", oracle=_CCNET_ORACLE, tier="T3")
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiering (Wenzek et al. 2020, arXiv:1911.00359):
    per language, rank documents by a language-model quality proxy and
    split them into head / middle / tail thirds — the bucketing CCNet
    publishes so downstream consumers can train on the head and drop the
    tail.  The LM proxy here is the exact-integer rarity score
    Σ (corpus_tokens // token_count) — monotone with unigram surprisal
    but BIGINT-exact, so the per-language ordering (mean rarity, doc_id)
    that ntile consumes is bit-deterministic in both engines; a sum of
    float ln() terms would make near-tied docs flip buckets on
    accumulation-order ulps (llm_perplexity_filter carries the float
    lane; this op needs exact ORDER semantics because a 1-ulp flip
    changes bucket COUNTS, not 6th decimals).

    Scale shape: vocabulary-bounded count shuffle, one equi-join per
    token occurrence (broadcast the head of the vocabulary at 100 TB —
    same skew note as the perplexity op), a per-language window over
    doc-grain rows, and a 15-row rollup."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        toks.join(cnt, "w")
        .crossJoin(F.broadcast(tot))  # 1-row total spine
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.floor(F.col("n") / F.col("c"))).cast("long").alias("rarity"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("rarity") * 1.0 / F.col("n_tokens"), "doc_id"
    )
    bucketed = scored.select(
        "lang", "n_tokens", "rarity", F.ntile(3).over(w).alias("b")
    )
    return (
        bucketed.groupBy("lang", "b")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.round(F.sum("rarity") * 1.0 / F.sum("n_tokens"), 6).alias("mean_rarity"),
        )
        .select(
            "lang",
            F.when(F.col("b") == 1, "head")
            .when(F.col("b") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "tokens",
            "mean_rarity",
            "b",
        )
        .orderBy("lang", "b")
        .drop("b")
    )


_VOCAB_GROWTH_ORACLE = """
WITH toks AS (
  SELECT doc_id // 50 AS bucket, unnest(string_split(text, ' ')) AS w
  FROM documents
), firsts AS (
  SELECT w, min(bucket) AS first_bucket, count(*) AS occurrences
  FROM toks WHERE w <> '' GROUP BY w
), per_bucket AS (
  SELECT first_bucket AS bucket, count(*) AS new_types
  FROM firsts GROUP BY first_bucket
), tok_per_bucket AS (
  SELECT bucket, count(*) AS n_tokens FROM toks WHERE w <> '' GROUP BY bucket
)
SELECT t.bucket,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
       CAST(COALESCE(p.new_types, 0) AS BIGINT) AS new_types,
       CAST(sum(COALESCE(p.new_types, 0)) OVER (ORDER BY t.bucket) AS BIGINT)
         AS cum_types
FROM tok_per_bucket t LEFT JOIN per_bucket p ON t.bucket = p.bucket
ORDER BY t.bucket
"""


@register("llm_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE, tier="T2")
def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: cumulative distinct word
    types vs cumulative tokens as the corpus is consumed in doc_id
    order (50-doc buckets) — the corpus-science statistic that tells
    you whether more data still buys new vocabulary (sub-linear growth
    flattening = diminishing lexical returns; an anomalous jump = a new
    domain or a crawler language leak).  The distributed formulation
    NEVER materializes "distinct so far" per prefix (that's quadratic):
    each word reduces to (first_bucket = min bucket of occurrence) in
    one vocabulary-keyed agg, new-types-per-bucket is a count over
    that, and the cumulative curve is a window over the BUCKET-grain
    frame (a few hundred rows).  Same pattern DuckDB replays exactly —
    all counts, hash-matched."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") / 50).cast("long").alias("bucket"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")
    firsts = toks.groupBy("w").agg(F.min("bucket").alias("first_bucket"))
    per_bucket = firsts.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    tok_per_bucket = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok_per_bucket.join(per_bucket, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_types"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Linear classifier inference (model-based filtering, exact-integer logit)
# ---------------------------------------------------------------------------

_CLF_STOPLIST = "'the','and','of','to','a','in','is','it'"

_CLF_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> list_contains([{_CLF_STOPLIST}], w))) AS BIGINT) AS n_stop,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS n_num
  FROM documents
), scored AS (
  SELECT doc_id, n_chars,
         5 * n_stop + n_words - 4 * n_num AS logit
  FROM feat
)
SELECT CASE WHEN logit >= 90 THEN 'keep'
            WHEN logit >= 50 THEN 'review'
            ELSE 'drop' END        AS band,
       CAST(count(*) AS BIGINT)    AS n_docs,
       CAST(sum(logit) AS BIGINT)  AS logit_sum,
       CAST(min(logit) AS BIGINT)  AS logit_min,
       CAST(max(logit) AS BIGINT)  AS logit_max,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM scored GROUP BY band ORDER BY band
"""


@register("llm_classifier_filter", oracle=_CLF_ORACLE, tier="T3")
def llm_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering as BATCH INFERENCE: a linear
    classifier (fixed integer weights over cheap lexical features —
    stopword hits, word count, numeric-token count) scored inline over
    the corpus and bucketed into keep/review/drop bands — the
    FineWeb-Edu / quality-classifier pipeline stage, restricted to an
    EXACT-INTEGER logit so the decision boundary is bit-deterministic
    on both engines (no sigmoid needed: monotone, so thresholding the
    logit IS thresholding the probability).

    Scale shape: inference is pure column expressions (split + filter
    higher-order fns + integer arithmetic) — whole-stage codegen, no
    Python, no shuffle before the 3-row band aggregate.  Swapping in a
    real model means replacing the expression with a pandas_udf batch
    matmul (the udf_pandas_scalar lane); everything else is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    stoplist = F.array(*[F.lit(w) for w in
                         ("the", "and", "of", "to", "a", "in", "is", "it")])
    n_words = F.size(words).cast("long")
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stoplist, w))).cast(
        "long"
    )
    n_num = F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$"))).cast("long")
    logit = (F.lit(5) * n_stop + n_words - F.lit(4) * n_num).alias("logit")
    scored = d.select("doc_id", "n_chars", logit)
    band = (
        F.when(F.col("logit") >= 90, "keep")
        .when(F.col("logit") >= 50, "review")
        .otherwise("drop")
        .alias("band")
    )
    return (
        scored.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("logit").cast("long").alias("logit_sum"),
            F.min("logit").cast("long").alias("logit_min"),
            F.max("logit").cast("long").alias("logit_max"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .orderBy("band")
    )

"""Retrieval / classifier EVALUATION harness operators.

The training-data pipeline's missing third leg: the repo already has
retrieval *systems* (llm_bm25_rank sparse, llm_simsearch_* dense) and
*filters* (llm_classifier_filter, llm_quality_score); a production corpus
pipeline also runs the evaluation sweeps that decide which system ships —
hybrid rank fusion (RRF), ranking metrics (NDCG@k / MRR / hit-rate), and
classifier confusion-matrix metrics (precision / recall / F1).  These run
as BATCH jobs over the whole corpus — exactly the shape a Spark cluster
wants (score everything, aggregate per query/class), not an online
serving path.

Determinism lanes (PARITY.md):
- Every ranking key is an exact BIGINT (distinct-overlap counts), every
  window ORDER BY carries the unique doc_id tie-breaker.
- RRF contributions and reciprocal ranks use integer division of scaled
  constants (1e12 DIV (60+rank)) — never a float sum.
- NDCG's log2 discount is inlined as INTEGER LITERALS computed once at
  module import (floor(1e9/log2(r+1)) for r=1..10) and embedded in BOTH
  engine texts, so the discount table is identical by construction; DCG
  and IDCG are exact-BIGINT sums and NDCG is ONE division of identical
  operands.
- Confusion-matrix metrics are counts and scaled rationals (ppm).

The corpus is synthetic random text, so absolute retrieval quality is
near-zero (no semantic signal to find); the operators certify the EVAL
MACHINERY — grading, discounts, ideal-ranking math, metric algebra —
which is what must be bit-correct when a real corpus is swapped in.

Scale shape: query token/bigram sets (Q queries × ~doc length) broadcast
into the candidate-token join; per-(query, candidate) overlap is one hash
aggregate; per-query top-k is a WindowGroupLimit.  At 100 TB the
candidate stream stays a single scan, the rank tables are Q×k rows, and
every eval aggregate is bounded by Q — driver traffic never grows with
corpus size.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.session import ckpt
from un_datapipeline_spark.tables import load_table

_N_QUERIES = 10          # query docs: doc_id < 10
_RRF_K = 60              # the standard RRF dampening constant
_RRF_SCALE = 1_000_000_000_000  # contribution = SCALE DIV (K + rank), exact
_LIST_LEN = 50           # per-system candidate list length for fusion
_EVAL_K = 10             # NDCG@k / hit@k cutoff

# log2 discount table, inlined as integer literals in BOTH engine texts
# (computed once here, so cross-engine identity holds by construction).
_W = tuple(int(10**9 / math.log2(r + 1)) for r in range(1, _EVAL_K + 1))
_WP = (0,) + tuple(sum(_W[:i]) for i in range(1, _EVAL_K + 1))  # prefix sums


def _unigram_rank_sql(limit: int) -> str:
    """DuckDB CTE text: per-query candidate ranks by distinct shared
    unigrams (exact BIGINT score, doc_id tie-break)."""
    return f"""
utoks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
), uni_rank AS (
  SELECT q_id, c_id, r FROM (
    SELECT q_id, c_id,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, c_id) AS BIGINT) AS r
    FROM (SELECT q.doc_id AS q_id, c.doc_id AS c_id,
                 CAST(count(*) AS BIGINT) AS score
          FROM utoks q JOIN utoks c ON q.w = c.w AND c.doc_id <> q.doc_id
          WHERE q.doc_id < {_N_QUERIES} GROUP BY 1, 2))
  WHERE r <= {limit}
)"""


def _bigram_rank_sql(limit: int) -> str:
    """DuckDB CTE text: per-query candidate ranks by distinct shared
    bigrams (exact BIGINT score, doc_id tie-break)."""
    return f"""
bitoks AS (
  SELECT DISTINCT doc_id, bg FROM (
    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i))
), bi_rank AS (
  SELECT q_id, c_id, r FROM (
    SELECT q_id, c_id,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY score DESC, c_id) AS BIGINT) AS r
    FROM (SELECT q.doc_id AS q_id, c.doc_id AS c_id,
                 CAST(count(*) AS BIGINT) AS score
          FROM bitoks q JOIN bitoks c ON q.bg = c.bg AND c.doc_id <> q.doc_id
          WHERE q.doc_id < {_N_QUERIES} GROUP BY 1, 2))
  WHERE r <= {limit}
)"""


def _bigram_ranks(spark: SparkSession, sf_dir: str, limit: int) -> DataFrame:
    """Spark twin of _bigram_rank_sql: (q_id, c_id, r)."""
    d = load_table(spark, sf_dir, "documents")
    # zip_with over two slices instead of transform(sequence(0, n-2)):
    # for a 1-word (or empty-text) doc, sequence(0, -1) DESCENDS to
    # [0, -1] and ws[-1] throws INVALID_ARRAY_INDEX under ANSI mode,
    # while slice(ws, 1, 0) / slice(ws, 2, 0) are empty arrays — the
    # short-input guard PARITY.md's hazard list requires (the shipped
    # corpora all have ≥10-word docs, but a real corpus won't).
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with("
                "slice(split(lower(text), ' '), 1, "
                "      size(split(lower(text), ' ')) - 1), "
                "slice(split(lower(text), ' '), 2, "
                "      size(split(lower(text), ' ')) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    ).distinct()
    qg = grams.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("q_id"), "bg"
    )
    cg = grams.select(F.col("doc_id").alias("c_id"), "bg")
    scores = (
        cg.join(F.broadcast(qg), "bg")
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scores.withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= limit)
        .select("q_id", "c_id", "r")
    )


def _unigram_ranks(spark: SparkSession, sf_dir: str, limit: int) -> DataFrame:
    """Spark twin of _unigram_rank_sql: (q_id, c_id, r)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).distinct()
    q = toks.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("q_id"), "w"
    )
    c = toks.select(F.col("doc_id").alias("c_id"), "w")
    scores = (
        c.join(F.broadcast(q), "w")
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scores.withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= limit)
        .select("q_id", "c_id", "r")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid retrieval)
# ---------------------------------------------------------------------------

_RRF_ORACLE = f"""
WITH {_unigram_rank_sql(_LIST_LEN)},
{_bigram_rank_sql(_LIST_LEN).lstrip()},
fused AS (
  SELECT coalesce(u.q_id, b.q_id) AS q_id, coalesce(u.c_id, b.c_id) AS c_id,
         CAST(coalesce(u.r, 0) AS BIGINT) AS rank_uni,
         CAST(coalesce(b.r, 0) AS BIGINT) AS rank_bi,
         CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + u.r), 0)
              + coalesce({_RRF_SCALE} // ({_RRF_K} + b.r), 0) AS BIGINT)
           AS rrf_scaled
  FROM uni_rank u FULL OUTER JOIN bi_rank b
    ON u.q_id = b.q_id AND u.c_id = b.c_id
)
SELECT q_id, c_id, rank_uni, rank_bi, rrf_scaled
FROM fused
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY rrf_scaled DESC, c_id) <= 5
ORDER BY q_id, rrf_scaled DESC, c_id
"""


@register("llm_retrieval_rrf_fusion", oracle=_RRF_ORACLE, tier="T3")
def llm_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    systems — the standard hybrid-search combiner (lexical + semantic in
    production; here two exact-integer lexical systems, distinct-unigram
    overlap and distinct-bigram overlap, so the FUSION math is
    hash-verifiable).  Each system contributes floor(1e12/(60+rank)) for
    its top-{llen} list; absent docs contribute 0 (rank columns report 0);
    top-5 fused docs per query.

    Swapping system B for cosine ranks (llm_simsearch_cosine_topk's
    broadcast-probe matmul) changes one input table and nothing else —
    RRF is rank-only, which is exactly why production hybrid search uses
    it over score mixing (no cross-system score calibration).

    Scale: both rank tables are Q×{llen}; the fusion join and final
    top-5 window touch Q×{llen} rows regardless of corpus size."""
    uni = _unigram_ranks(spark, sf_dir, _LIST_LEN)
    bi = _bigram_ranks(spark, sf_dir, _LIST_LEN)
    u = uni.select("q_id", "c_id", F.col("r").alias("r_u"))
    b = bi.select("q_id", "c_id", F.col("r").alias("r_b"))
    fused = (
        u.join(b, ["q_id", "c_id"], "full_outer")
        .select(
            "q_id",
            "c_id",
            F.coalesce("r_u", F.lit(0)).cast("long").alias("rank_uni"),
            F.coalesce("r_b", F.lit(0)).cast("long").alias("rank_bi"),
            (
                F.coalesce(
                    F.expr(f"{_RRF_SCALE} DIV ({_RRF_K} + r_u)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{_RRF_SCALE} DIV ({_RRF_K} + r_b)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_scaled"),
        )
    )
    w5 = Window.partitionBy("q_id").orderBy(F.desc("rrf_scaled"), F.asc("c_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w5))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("q_id", F.desc("rrf_scaled"), "c_id")
    )


llm_retrieval_rrf_fusion.__doc__ = llm_retrieval_rrf_fusion.__doc__.format(
    llen=_LIST_LEN
)


# ---------------------------------------------------------------------------
# Ranking metrics: NDCG@10 / MRR / hit-rate
# ---------------------------------------------------------------------------

_W_CASE = " ".join(f"WHEN {r} THEN {_W[r - 1]}" for r in range(1, _EVAL_K + 1))
_WP_LIST = ", ".join(str(x) for x in _WP)  # 1-based index: WP[a+1] = prefix a

_NDCG_ORACLE = f"""
WITH {_unigram_rank_sql(_EVAL_K)},
graded AS (
  SELECT t.q_id, t.r,
         CASE WHEN qd.source = cd.source AND qd.lang = cd.lang THEN 2
              WHEN qd.source = cd.source THEN 1 ELSE 0 END AS rel,
         CASE t.r {_W_CASE} END AS w_r
  FROM uni_rank t
  JOIN documents qd ON qd.doc_id = t.q_id
  JOIN documents cd ON cd.doc_id = t.c_id
), per_q AS (
  SELECT q_id,
         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_top10,
         CAST(coalesce(min(CASE WHEN rel > 0 THEN r END), 0) AS BIGINT)
           AS first_rel_rank,
         CAST(sum(rel * w_r) AS BIGINT) AS dcg_scaled
  FROM graded GROUP BY q_id
), grp AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl FROM documents
  GROUP BY 1, 2
), src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1
), ideal AS (
  -- the query doc itself sits in both group counts: subtract 1
  SELECT qd.doc_id AS q_id,
         least(g.n_sl - 1, {_EVAL_K}) AS a,
         least(s.n_s - 1, {_EVAL_K}) AS b
  FROM documents qd
  JOIN grp g ON g.source = qd.source AND g.lang = qd.lang
  JOIN src s ON s.source = qd.source
  WHERE qd.doc_id < {_N_QUERIES}
)
SELECT p.q_id, p.n_rel_top10, p.first_rel_rank,
       CAST(CASE WHEN p.first_rel_rank > 0
                 THEN 1000000000 // p.first_rel_rank ELSE 0 END AS BIGINT)
         AS rr_scaled,
       p.dcg_scaled,
       CAST(([{_WP_LIST}])[i.a + 1]
            + ([{_WP_LIST}])[i.b + 1] AS BIGINT) AS idcg_scaled,
       floor(p.dcg_scaled * 1.0
             / nullif(([{_WP_LIST}])[i.a + 1] + ([{_WP_LIST}])[i.b + 1], 0)
             * 1000000 + 0.5) / 1000000.0 AS ndcg
FROM per_q p JOIN ideal i ON i.q_id = p.q_id
ORDER BY p.q_id
"""


@register("llm_retrieval_ndcg_eval", oracle=_NDCG_ORACLE, tier="T3")
def llm_retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-metric sweep — NDCG@10 / MRR / hit-count per query — for
    the unigram-overlap retriever, with graded relevance from document
    metadata (same source+lang = 2, same source = 1, else 0: the
    "same-domain retrieval" ground truth a corpus pipeline gets for
    free).

    NDCG determinism: the 1/log2(r+1) discount is a module-level INTEGER
    literal table (floor(1e9/log2(r+1))) shared by both engine texts;
    DCG = Σ rel·w_r is an exact BIGINT; the GLOBAL ideal ranking (all
    rel-2 docs first, then rel-1, capped at k) reduces to prefix sums of
    that table — idcg = 2·WP[a] + (WP[b]−WP[a]) = WP[a] + WP[b] for
    a = min(#rel2, k), b = min(#rel2+#rel1, k) — so NDCG is ONE division
    of two exact BIGINTs.  MRR is 1e9 DIV first_relevant_rank.

    Scale: grading joins the Q×k rank table to the (broadcast) doc
    metadata; the ideal side is one aggregate over the per-(source,lang)
    group counts.  Output is Q rows."""
    top = _unigram_ranks(spark, sf_dir, _EVAL_K)
    d = load_table(spark, sf_dir, "documents")
    meta = d.select("doc_id", "source", "lang")
    qd = meta.select(
        F.col("doc_id").alias("q_id"),
        F.col("source").alias("q_source"),
        F.col("lang").alias("q_lang"),
    )
    cd = meta.select(
        F.col("doc_id").alias("c_id"),
        F.col("source").alias("c_source"),
        F.col("lang").alias("c_lang"),
    )
    rel = (
        F.when(
            (F.col("q_source") == F.col("c_source"))
            & (F.col("q_lang") == F.col("c_lang")),
            2,
        )
        .when(F.col("q_source") == F.col("c_source"), 1)
        .otherwise(0)
    )
    w_r = F.expr(f"CASE r {_W_CASE} END")
    graded = (
        top.join(F.broadcast(qd), "q_id")
        .join(F.broadcast(cd), "c_id")
        .select("q_id", "r", rel.alias("rel"), w_r.alias("w_r"))
    )
    per_q = graded.groupBy("q_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel_top10"),
        F.coalesce(
            F.min(F.when(F.col("rel") > 0, F.col("r"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel_rank"),
        F.sum(F.col("rel") * F.col("w_r")).cast("long").alias("dcg_scaled"),
    )
    # global ideal: per-(source,lang) / per-source group counts, equi-joined
    # back to the queries (minus 1 for the query doc itself) — no pairwise
    # comparison anywhere, so the ideal side costs two small aggregates at
    # any corpus size
    grp = meta.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sl")
    )
    src = meta.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    qmeta = qd.filter(F.col("q_id") < _N_QUERIES)
    ideal = (
        qmeta.join(
            F.broadcast(grp),
            (F.col("q_source") == F.col("source"))
            & (F.col("q_lang") == F.col("lang")),
        )
        .join(F.broadcast(src.withColumnRenamed("source", "s_source")),
              F.col("q_source") == F.col("s_source"))
        .select(
            "q_id",
            F.least(F.col("n_sl") - 1, F.lit(_EVAL_K)).cast("long").alias("a"),
            F.least(F.col("n_s") - 1, F.lit(_EVAL_K)).cast("long").alias("b"),
        )
    )
    wp = f"array({_WP_LIST})"
    out = per_q.join(ideal, "q_id").select(
        "q_id",
        "n_rel_top10",
        "first_rel_rank",
        F.expr(
            "CASE WHEN first_rel_rank > 0 "
            "THEN 1000000000 DIV first_rel_rank ELSE 0 END"
        )
        .cast("long")
        .alias("rr_scaled"),
        "dcg_scaled",
        F.expr(f"element_at({wp}, CAST(a + 1 AS INT)) "
               f"+ element_at({wp}, CAST(b + 1 AS INT))")
        .cast("long")
        .alias("idcg_scaled"),
        # explicit floor(x·1e6 + 0.5)/1e6 lane (not engine ROUND) — the
        # .5-grid hazard PARITY.md documents; floor(x+0.5) is also
        # negative-safe, matching rho/tau/kappa below
        (
            F.floor(
                F.col("dcg_scaled")
                * 1.0
                / F.nullif(
                    F.expr(
                        f"element_at({wp}, CAST(a + 1 AS INT)) "
                        f"+ element_at({wp}, CAST(b + 1 AS INT))"
                    ),
                    F.lit(0),
                )
                * 1000000
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("ndcg"),
    )
    return out.orderBy("q_id")


# ---------------------------------------------------------------------------
# Classifier eval: confusion matrix + precision / recall / F1
# ---------------------------------------------------------------------------

_GOLD_CASE = (
    "CASE WHEN n_words >= 60 THEN 'keep' "
    "WHEN n_words >= 30 THEN 'review' ELSE 'drop' END"
)
_PRED_CASE = (
    "CASE WHEN 5 * n_stop + n_words - 4 * n_num >= 90 THEN 'keep' "
    "WHEN 5 * n_stop + n_words - 4 * n_num >= 50 THEN 'review' "
    "ELSE 'drop' END"
)
_CLF_STOPLIST = "'the','and','of','to','a','in','is','it'"

_CLF_EVAL_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> list_contains([{_CLF_STOPLIST}], w))) AS BIGINT) AS n_stop,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS n_num
  FROM documents
), banded AS (
  SELECT {_GOLD_CASE} AS gold, {_PRED_CASE} AS pred FROM feat
), cells AS (
  SELECT gold, pred, CAST(count(*) AS BIGINT) AS n FROM banded GROUP BY 1, 2
), gold_tot AS (
  SELECT gold AS band, CAST(sum(n) AS BIGINT) AS support FROM cells GROUP BY 1
), pred_tot AS (
  SELECT pred AS band, CAST(sum(n) AS BIGINT) AS predicted
  FROM cells GROUP BY 1
), diag AS (
  SELECT gold AS band, CAST(n AS BIGINT) AS tp FROM cells WHERE gold = pred
), per_class AS (
  SELECT coalesce(g.band, p.band, d.band) AS band,
         CAST(coalesce(g.support, 0) AS BIGINT) AS support,
         CAST(coalesce(p.predicted, 0) AS BIGINT) AS predicted,
         CAST(coalesce(d.tp, 0) AS BIGINT) AS tp
  FROM gold_tot g
  FULL OUTER JOIN pred_tot p ON p.band = g.band
  FULL OUTER JOIN diag d ON d.band = coalesce(g.band, p.band)
), micro AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(sum(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT)
           AS correct
  FROM cells
)
SELECT band, support, predicted, tp,
       CAST(predicted - tp AS BIGINT) AS fp,
       CAST(support - tp AS BIGINT) AS fn,
       CAST(coalesce(1000000 * tp // nullif(predicted, 0), 0) AS BIGINT)
         AS precision_ppm,
       CAST(coalesce(1000000 * tp // nullif(support, 0), 0) AS BIGINT)
         AS recall_ppm,
       CAST(coalesce(2000000 * tp // nullif(support + predicted, 0), 0)
            AS BIGINT) AS f1_ppm
FROM per_class
UNION ALL
SELECT 'all' AS band, total AS support, total AS predicted, correct AS tp,
       CAST(total - correct AS BIGINT) AS fp,
       CAST(total - correct AS BIGINT) AS fn,
       CAST(1000000 * correct // total AS BIGINT) AS precision_ppm,
       CAST(1000000 * correct // total AS BIGINT) AS recall_ppm,
       CAST(1000000 * correct // total AS BIGINT) AS f1_ppm
FROM micro
ORDER BY band
"""


@register("llm_classifier_eval_metrics", oracle=_CLF_EVAL_ORACLE, tier="T3")
def llm_classifier_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix evaluation of the llm_classifier_filter linear
    model against a document-length gold standard — per-class support /
    predicted / TP / FP / FN with precision, recall, and F1 as exact
    parts-per-million (1e6·tp DIV denominator), plus an 'all' micro row
    whose P = R = F1 = accuracy (the micro-average identity for
    single-label classification).

    Everything is counts and integer division — the lane-2 discipline:
    F1's 2·tp/(support+predicted) form avoids ever materializing
    precision and recall as floats.

    Scale: one corpus scan computes both bandings as column expressions;
    the confusion matrix is a (classes²)-row aggregate; metric algebra
    runs on that tiny table."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    stoplist = F.array(
        *[F.lit(w) for w in ("the", "and", "of", "to", "a", "in", "is", "it")]
    )
    feat = d.select(
        F.size(words).cast("long").alias("n_words"),
        F.size(F.filter(words, lambda w: F.array_contains(stoplist, w)))
        .cast("long")
        .alias("n_stop"),
        F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_num"),
    )
    banded = feat.select(
        F.expr(_GOLD_CASE).alias("gold"), F.expr(_PRED_CASE).alias("pred")
    )
    cells = banded.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    gold_tot = cells.groupBy(F.col("gold").alias("band")).agg(
        F.sum("n").cast("long").alias("support")
    )
    pred_tot = cells.groupBy(F.col("pred").alias("band")).agg(
        F.sum("n").cast("long").alias("predicted")
    )
    diag = cells.filter(F.col("gold") == F.col("pred")).select(
        F.col("gold").alias("band"), F.col("n").alias("tp")
    )
    per_class = (
        gold_tot.join(pred_tot, "band", "full_outer")
        .join(diag, "band", "full_outer")
        .select(
            "band",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            F.coalesce("predicted", F.lit(0)).cast("long").alias("predicted"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    cls_out = per_class.select(
        "band",
        "support",
        "predicted",
        "tp",
        (F.col("predicted") - F.col("tp")).cast("long").alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
        F.coalesce(
            F.expr("1000000 * tp DIV nullif(predicted, 0)"), F.lit(0)
        )
        .cast("long")
        .alias("precision_ppm"),
        F.coalesce(F.expr("1000000 * tp DIV nullif(support, 0)"), F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
        F.coalesce(
            F.expr("2000000 * tp DIV nullif(support + predicted, 0)"),
            F.lit(0),
        )
        .cast("long")
        .alias("f1_ppm"),
    )
    micro = cells.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("correct"),
    )
    micro_out = micro.select(
        F.lit("all").alias("band"),
        F.col("total").alias("support"),
        F.col("total").alias("predicted"),
        F.col("correct").alias("tp"),
        (F.col("total") - F.col("correct")).cast("long").alias("fp"),
        (F.col("total") - F.col("correct")).cast("long").alias("fn"),
        F.expr("1000000 * correct DIV total").cast("long").alias("precision_ppm"),
        F.expr("1000000 * correct DIV total").cast("long").alias("recall_ppm"),
        F.expr("1000000 * correct DIV total").cast("long").alias("f1_ppm"),
    )
    return cls_out.unionByName(micro_out).orderBy("band")


# ---------------------------------------------------------------------------
# Ranker agreement: Spearman rho / Kendall tau between two systems
# ---------------------------------------------------------------------------

_AGREE_ORACLE = f"""
WITH {_unigram_rank_sql(_LIST_LEN)},
{_bigram_rank_sql(_LIST_LEN).lstrip()},
inter AS (
  SELECT u.q_id, u.c_id, u.r AS ru, b.r AS rb
  FROM uni_rank u JOIN bi_rank b ON b.q_id = u.q_id AND b.c_id = u.c_id
), rr AS (
  SELECT q_id, c_id, ru, rb,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY ru) AS BIGINT)
           AS ra,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY rb) AS BIGINT)
           AS rb2
  FROM inter
), sp AS (
  SELECT q_id, CAST(count(*) AS BIGINT) AS overlap,
         CAST(sum((ra - rb2) * (ra - rb2)) AS BIGINT) AS sum_d2
  FROM rr GROUP BY 1
), kd AS (
  SELECT i.q_id,
         CAST(sum(CASE WHEN (i.ru - j.ru) * (i.rb - j.rb) > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
         CAST(sum(CASE WHEN (i.ru - j.ru) * (i.rb - j.rb) < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_disc
  FROM inter i JOIN inter j ON j.q_id = i.q_id AND i.c_id < j.c_id
  GROUP BY 1
)
SELECT s.q_id, s.overlap, s.sum_d2,
       floor((CASE WHEN s.overlap > 1 THEN
             1.0 - 6.0 * s.sum_d2 / (s.overlap * (s.overlap * s.overlap - 1))
             END) * 1000000 + 0.5) / 1000000.0 AS rho,
       CAST(coalesce(k.n_conc, 0) AS BIGINT) AS n_conc,
       CAST(coalesce(k.n_disc, 0) AS BIGINT) AS n_disc,
       floor((CASE WHEN s.overlap > 1 THEN
             2.0 * (coalesce(k.n_conc, 0) - coalesce(k.n_disc, 0))
             / (s.overlap * (s.overlap - 1))
             END) * 1000000 + 0.5) / 1000000.0 AS tau
FROM sp s LEFT JOIN kd k ON k.q_id = s.q_id
ORDER BY s.q_id
"""


@register("llm_ranker_agreement", oracle=_AGREE_ORACLE, tier="T3")
def llm_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-correlation audit between two retrieval systems — Spearman's
    rho and Kendall's tau per query over the intersection of their
    top-{llen} lists (the standard "do my rankers disagree enough for
    fusion to help" diagnostic that precedes an RRF deployment).

    Determinism: ranks are unique exact integers (no tie corrections
    needed); Spearman re-ranks the intersection per system (row_number),
    sum of squared rank differences is exact BIGINT, and rho / tau are
    each ONE float expression over exact integers (6·Σd² ≤ 1e6 and the
    denominators are < 2^53, so every float operand is exactly
    representable and the division is the only rounding step).  Kendall
    concordant/discordant pair counts come from the bounded
    intersection self-join (≤ {llen}²/2 pairs per query).

    Scale: both rank tables are Q×{llen} regardless of corpus size; the
    intersection join, re-rank windows, and pair join all run on Q×{llen}
    rows."""
    u = _unigram_ranks(spark, sf_dir, _LIST_LEN).select(
        "q_id", "c_id", F.col("r").alias("ru")
    )
    b = _bigram_ranks(spark, sf_dir, _LIST_LEN).select(
        "q_id", "c_id", F.col("r").alias("rb")
    )
    # `inter` feeds THREE consumers (the two re-rank windows and both
    # sides of the Kendall pair join); materialize the Q×k intersection
    # once so the two-ranker pipeline behind it runs once, not 3×.
    inter = u.join(b, ["q_id", "c_id"]).transform(ckpt())
    wa = Window.partitionBy("q_id").orderBy("ru")
    wb = Window.partitionBy("q_id").orderBy("rb")
    rr = inter.select(
        "q_id",
        "c_id",
        "ru",
        "rb",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb2"),
    )
    sp = rr.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("overlap"),
        F.sum((F.col("ra") - F.col("rb2")) * (F.col("ra") - F.col("rb2")))
        .cast("long")
        .alias("sum_d2"),
    )
    i = inter.select(
        "q_id",
        F.col("c_id").alias("ci"),
        F.col("ru").alias("rui"),
        F.col("rb").alias("rbi"),
    )
    j = inter.select(
        "q_id",
        F.col("c_id").alias("cj"),
        F.col("ru").alias("ruj"),
        F.col("rb").alias("rbj"),
    )
    prod = (F.col("rui") - F.col("ruj")) * (F.col("rbi") - F.col("rbj"))
    kd = (
        i.join(j, ["q_id"])
        .filter(F.col("ci") < F.col("cj"))
        .groupBy("q_id")
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_conc"),
            F.sum(F.when(prod < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_disc"),
        )
    )
    out = sp.join(kd, "q_id", "left").select(
        "q_id",
        "overlap",
        "sum_d2",
        # floor(x·1e6 + 0.5)/1e6 — not engine ROUND (the .5-grid hazard);
        # floor(x+0.5) rounds half-up uniformly, negative-safe for tau<0
        (
            F.floor(
                F.when(
                    F.col("overlap") > 1,
                    1.0
                    - 6.0
                    * F.col("sum_d2")
                    / (
                        F.col("overlap")
                        * (F.col("overlap") * F.col("overlap") - 1)
                    ),
                )
                * 1000000
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("rho"),
        F.coalesce("n_conc", F.lit(0)).cast("long").alias("n_conc"),
        F.coalesce("n_disc", F.lit(0)).cast("long").alias("n_disc"),
        (
            F.floor(
                F.when(
                    F.col("overlap") > 1,
                    2.0
                    * (
                        F.coalesce("n_conc", F.lit(0))
                        - F.coalesce("n_disc", F.lit(0))
                    )
                    / (F.col("overlap") * (F.col("overlap") - 1)),
                )
                * 1000000
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("tau"),
    )
    return out.orderBy("q_id")


llm_ranker_agreement.__doc__ = llm_ranker_agreement.__doc__.format(
    llen=_LIST_LEN
)


# ---------------------------------------------------------------------------
# Cohen's kappa: chance-corrected labeler agreement
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = f"""
WITH feat AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> list_contains([{_CLF_STOPLIST}], w))) AS BIGINT) AS n_stop,
         CAST(len(list_filter(string_split(lower(text), ' '),
              w -> regexp_matches(w, '^[0-9]+$'))) AS BIGINT) AS n_num
  FROM documents
), banded AS (
  SELECT {_GOLD_CASE} AS gold, {_PRED_CASE} AS pred FROM feat
), cells AS (
  SELECT gold, pred, CAST(count(*) AS BIGINT) AS n FROM banded GROUP BY 1, 2
), row_tot AS (
  SELECT gold AS band, CAST(sum(n) AS BIGINT) AS nr FROM cells GROUP BY 1
), col_tot AS (
  SELECT pred AS band, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY 1
), scal AS (
  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_items,
         (SELECT CAST(coalesce(sum(CASE WHEN gold = pred THEN n END), 0)
                      AS BIGINT) FROM cells) AS n_agree,
         (SELECT CAST(coalesce(sum(r.nr * c.nc), 0) AS BIGINT)
          FROM row_tot r JOIN col_tot c ON c.band = r.band) AS pe_num
)
SELECT n_items, n_agree, pe_num,
       CAST(1000000 * n_agree // n_items AS BIGINT) AS po_ppm,
       CAST(1000000 * pe_num // (n_items * n_items) AS BIGINT) AS pe_ppm,
       floor((n_items * n_agree - pe_num) * 1.0
             / nullif(n_items * n_items - pe_num, 0)
             * 1000000 + 0.5) / 1000000.0 AS kappa
FROM scal
"""


@register("llm_annotator_agreement", oracle=_KAPPA_ORACLE, tier="T3")
def llm_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document labelers — here the linear
    quality classifier vs the length-based gold banding (in production:
    two annotation models, or model vs human sample) — the
    chance-corrected agreement score labeling pipelines gate on before
    trusting auto-labels.

    Determinism: kappa = (po − pe)/(1 − pe) cross-multiplies to
    (N·agree − Σ row_c·col_c) / (N² − Σ row_c·col_c) — both sides exact
    BIGINT, ONE division through the explicit floor(x·1e6 + 0.5)/1e6
    lane (negative-safe; never engine ROUND).  po/pe are exact ppm
    via integer DIV (both non-negative, so truncation direction is
    engine-agnostic).

    Scale: one corpus scan → classes² cells → class-count joins; every
    post-scan table is bounded by the label-set size."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    stoplist = F.array(
        *[F.lit(w) for w in ("the", "and", "of", "to", "a", "in", "is", "it")]
    )
    feat = d.select(
        F.size(words).cast("long").alias("n_words"),
        F.size(F.filter(words, lambda w: F.array_contains(stoplist, w)))
        .cast("long")
        .alias("n_stop"),
        F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_num"),
    )
    banded = feat.select(
        F.expr(_GOLD_CASE).alias("gold"), F.expr(_PRED_CASE).alias("pred")
    )
    cells = banded.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_tot = cells.groupBy(F.col("gold").alias("band")).agg(
        F.sum("n").cast("long").alias("nr")
    )
    col_tot = cells.groupBy(F.col("pred").alias("band")).agg(
        F.sum("n").cast("long").alias("nc")
    )
    totals = cells.agg(
        F.sum("n").cast("long").alias("n_items"),
        F.coalesce(
            F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_agree"),
    )
    pe = (
        row_tot.join(col_tot, "band")
        .agg(
            F.coalesce(F.sum(F.col("nr") * F.col("nc")), F.lit(0))
            .cast("long")
            .alias("pe_num")
        )
    )
    return (
        totals.crossJoin(F.broadcast(pe))
        .select(
            "n_items",
            "n_agree",
            "pe_num",
            F.expr("1000000 * n_agree DIV n_items")
            .cast("long")
            .alias("po_ppm"),
            F.expr("1000000 * pe_num DIV (n_items * n_items)")
            .cast("long")
            .alias("pe_ppm"),
            # floor(x·1e6 + 0.5)/1e6 lane, negative-safe for kappa < 0
            (
                F.floor(
                    (F.col("n_items") * F.col("n_agree") - F.col("pe_num"))
                    * 1.0
                    / F.nullif(
                        F.col("n_items") * F.col("n_items") - F.col("pe_num"),
                        F.lit(0),
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("kappa"),
        )
    )

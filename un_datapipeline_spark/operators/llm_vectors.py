"""Vector / similarity-search operators (SURVEY.md §2.K).

Scale design: every top-k search in this module is ONE kernel,
`probe_search`.  The (small) probe set is collected, L2-normalized into
a numpy matrix, and shipped to executors inside a `mapInPandas` closure.
Each Arrow batch is validated, normalized and handed to a pluggable
scorer that returns a `(batch, probes)` similarity matrix, with -inf
where a pair is excluded: the exact matmul (`cosine_topk`), the IVF
cell-routed matmul, the per-shard NSW graph beam, or the hard-negative
label mask.  The kernel keeps only the per-batch top-k rows per probe,
and the global top-k is a cheap window over `partitions × probes × k`
candidate rows.  No pairwise shuffle, no per-element lambda
interpretation; the corpus side streams at full scan speed at any
scale.  (An interpreted higher-order-function formulation of the same
query measured 86 s at sf0.1 vs ~1 s for this path.)

At 100 TB the same shape holds: probes broadcast, corpus scanned once,
partial top-k per partition (bounded memory), final reduce over
candidates only.  For probe sets too large to broadcast, swap the probe
side to LSH bucketing (dedup_extras.bucket_cosine_best).
"""

from __future__ import annotations

from collections import namedtuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import load_table, winner_embedding_sql


# Vector-validity contract (round 9 NULL layer + round 10 dimension
# layer — mirrors the round-6 zero-norm rule): a NULL embedding, an
# embedding carrying a NULL element, OR an embedding whose length
# differs from the table's declared dimension is NOT a vector —
# similarity, clustering, codebook and LSH semantics exclude it.  The
# dimension layer (EMBED_DIM, sweep mode --mixdim) is the
# model-version-mix shape every production embedding table accumulates:
# a re-embed job lands 32- or 72-wide rows into the 64-wide table and
# nothing in the parquet schema prevents it (`list<float>` is
# unbounded); 10 of 16 vector ops crashed on it (numpy "inhomogeneous
# shape") before this predicate.  Three layers, all required:
#   1. an UPSTREAM DataFrame filter (valid_vec) so Catalyst prunes the
#      rows before the Arrow transfer and the plan stays declarative;
#   2. the SAME predicate in every paired DuckDB oracle (valid_vec_sql)
#      — DuckDB's list aggregates silently SKIP NULL elements, so an
#      unfiltered oracle computes a partial norm instead of crashing;
#   3. a DEFENSIVE in-kernel guard: probe_search runs _vec_matrix on
#      every Arrow batch, so a mapInPandas closure reused on raw data
#      cannot crash on a ragged np.array.
# The element-NULL check is size(array_compact(col)) = size(col) — a
# native collection expression — NOT an interpreted higher-order
# F.exists lambda: the predicate runs over EVERY corpus element on the
# hot side of the similarity scan (VERDICT r09 item 4's §4.3 concern).
EMBED_DIM = 64  # FIXTURES.md corpus contract: embeddings.embedding width


def valid_vec():
    """Predicate: ``embedding`` holds a usable vector (not NULL, declared
    width, no NULL elements)."""
    return (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == F.lit(EMBED_DIM))
        & (F.size(F.array_compact("embedding")) == F.size("embedding"))
    )


def l2_norm(col: str = "embedding"):
    """sqrt(Σ x²) over the array column in float64, JVM-side — the same
    CAST-to-DOUBLE sum every paired oracle computes."""
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x), F.lit(0.0), lambda a, x: a + x
        )
    )


def dot(a: str, b: str):
    """Σ a·b over two array columns in float64, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda acc, x: acc + x
    )


def valid_vec_sql(col: str = "embedding") -> str:
    """The DuckDB mirror of valid_vec for paired oracle texts."""
    return (
        f"({col} IS NOT NULL AND len({col}) = {EMBED_DIM} "
        f"AND len(list_filter({col}, x -> x IS NULL)) = 0)"
    )


def _vec_matrix(pdf):
    """(keep_mask, float64 matrix) of one Arrow batch's ``embedding``
    column: rows whose cell is None, dimension-ragged, or carries a
    NaN-coerced NULL element are dropped from the matrix.  numpy coerces
    a None element to NaN under dtype=float64, so a single corrupt cell
    would otherwise poison every dot product in the batch (or crash
    np.array outright on a whole-NULL cell: 'inhomogeneous shape').

    Vectorized (round 10, VERDICT r09 item 4): the None/length mask is
    cheap python-per-cell, but the float conversion and NaN scan are ONE
    ``np.array`` build + ONE matrix-wise ``isnan`` — never a per-cell
    ``np.asarray``/``isnan`` loop, which multiplies at 100x corpus
    scale on the hot side of the similarity scan."""
    import numpy as np

    cells = list(pdf["embedding"])
    dim = next((len(c) for c in cells if c is not None), 0)
    keep = np.fromiter(
        (c is not None and len(c) == dim for c in cells), bool, len(cells)
    )
    if not keep.any():
        return keep, np.zeros((0, dim))
    # one C-level conversion of the uniform-length survivors; a None
    # ELEMENT inside a kept cell coerces to NaN here and is masked out
    # matrix-wise below
    mat = np.array(
        [c for c, k in zip(cells, keep) if k] if not keep.all() else cells,
        dtype=np.float64,
    )
    nan_rows = np.isnan(mat).any(axis=1)
    if nan_rows.any():
        keep[np.flatnonzero(keep)[nan_rows]] = False
        mat = mat[~nan_rows]
    return keep, mat


def _topk_idx(sims, b_ids, kk):
    """Per-probe indices of the kk best batch candidates under the TOTAL
    order (sim DESC, candidate id ASC) — the same order the final global
    window and every paired oracle use.  argpartition alone is
    tie-ARBITRARY: when more than kk candidates tie at the boundary
    within one batch (exact-duplicate vectors give bitwise-equal sims),
    it may keep a larger-id candidate and drop the smaller-id one the
    global tie-break would have chosen, so the partial top-k silently
    changes the answer (round-7 --ties sweep).  lexsort keys: last key
    is primary, so (-sims) ranks by sim DESC and the broadcast id column
    breaks ties ASC.  O(batch log batch) per probe column vs
    argpartition's O(batch) — measured no bench regression (the matmul
    dominates)."""
    import numpy as np

    bb = np.broadcast_to(b_ids[:, None], sims.shape)
    return np.lexsort((bb, -sims), axis=0)[:kk]


def top_per_probe(pairs: DataFrame, k: int, n_cands: bool = False) -> DataFrame:
    """The family's global merge: at most k rows per a_id under the
    total order (sim DESC, nn_id ASC) — the order _topk_idx and every
    paired oracle use, so ties are deterministic.  With ``n_cands``
    each kept row also carries its a_id's whole candidate count."""
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    if n_cands:
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        pairs = pairs.withColumn("n_cands", F.count(F.lit(1)).over(whole))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


# One side of a probe search after validation: int64 ids, the
# L2-normalized float64 matrix, and the extra columns' values.
_Side = namedtuple("_Side", "ids mat cols")


def _unit_rows(ids, mat, cols) -> _Side:
    """Drop zero-norm rows and L2-normalize the rest.  Zero vectors are
    excluded from similarity semantics engine-wide: cosine is undefined
    there (norm product 0), and leaving them in yields engine-dependent
    NaN ranking (degenerate-corpus sweep, round 6).  The paired oracles
    carry the same norm > 0 predicate."""
    import numpy as np

    keep = np.linalg.norm(mat, axis=1) > 0
    if not keep.all():
        ids, mat = ids[keep], mat[keep]
        cols = {c: v[keep] for c, v in cols.items()}
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return _Side(ids, mat, cols)


def probe_search(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    score,
    extra_cols: tuple[str, ...] = (),
    out_schema: str = "a_id long, nn_id long, sim double",
) -> DataFrame:
    """The one top-k kernel of the vector family: broadcast probes, ONE
    corpus scan, a tie-safe partial top-k per Arrow batch, and a global
    (sim DESC, nn_id ASC) merge.

    ``score(b, p)`` gets the batch and probe `_Side`s (valid, non-zero,
    L2-normalized) and returns the ``(batch, probes)`` similarity matrix
    with -inf where a pair is excluded; non-finite sims never leave the
    batch.  ``extra_cols`` ride along on both sides (``b.cols`` /
    ``p.cols``); a NULL there excludes the row like a NULL vector, and
    each candidate's values are emitted beside its nn_id.  Returns
    ``out_schema`` rows, at most k per a_id."""
    import numpy as np

    cols = ["vec_id", "embedding", *extra_cols]
    # NULL-vector contract (valid_vec) on BOTH sides, mirrored in the
    # paired oracles, before the zero-norm exclusion in _unit_rows.
    ok = valid_vec()
    for c in extra_cols:
        ok = ok & F.col(c).isNotNull()
    rows = probes.filter(ok).select(*cols).collect()
    p = _unit_rows(
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.float64) if rows else np.zeros((0, 0)),
        {c: np.array([r[i] for r in rows]) for i, c in enumerate(extra_cols, 2)},
    )

    def partial_topk(batches):
        if p.mat.shape[0] == 0:  # every probe filtered out → no pairs
            return
        for pdf in batches:
            if pdf.empty:
                continue
            vkeep, b_mat = _vec_matrix(pdf)  # defensive NULL guard
            if extra_cols:  # a NULL extra arrives as NaN: drop it too
                xok = pdf[list(extra_cols)].notna().all(axis=1).to_numpy()
                b_mat, vkeep = b_mat[xok[vkeep]], vkeep & xok
            b = _unit_rows(
                pdf["vec_id"].to_numpy(dtype=np.int64)[vkeep],
                b_mat,
                {c: pdf[c].to_numpy()[vkeep] for c in extra_cols},
            )
            if b.mat.shape[0] == 0:
                continue
            sims = score(b, p)  # (batch, probes)
            kk = min(k, sims.shape[0])
            # per-probe top-kk within this batch under the global total
            # order (sim DESC, nn_id ASC) — see _topk_idx for why
            # argpartition is not tie-safe here
            idx = _topk_idx(sims, b.ids, kk)  # (kk, probes)
            sv = np.take_along_axis(sims, idx, axis=0).ravel()
            keep = np.isfinite(sv)
            yield pd.DataFrame(
                {
                    "a_id": np.repeat(p.ids[None, :], kk, axis=0).ravel()[keep],
                    "nn_id": b.ids[idx].ravel()[keep],
                    **{c: v[idx].ravel()[keep] for c, v in b.cols.items()},
                    "sim": sv[keep],
                }
            )

    candidates = corpus.filter(ok).select(*cols).mapInPandas(partial_topk, out_schema)
    return top_per_probe(candidates, k)


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    exclude_self: bool = True,
    require_gt: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors in `corpus` for every row of `probes`.

    Returns (a_id, nn_id, sim) with at most k rows per a_id, sim as
    float64.  `exclude_self` drops nn_id == a_id; `require_gt` keeps only
    nn_id > a_id (the BASELINE SQL-10 pair ordering).
    """
    import numpy as np

    def exact(b, p):
        sims = b.mat @ p.mat.T
        if require_gt:
            return np.where(b.ids[:, None] <= p.ids[None, :], -np.inf, sims)
        if exclude_self:
            return np.where(b.ids[:, None] == p.ids[None, :], -np.inf, sims)
        return sims

    return probe_search(corpus, probes, k, exact)


# DuckDB oracle computes the identical float64 math explicitly (not
# list_cosine_similarity, which runs in float32) so 6dp rounding is safe.
_DOT = (
    "list_aggregate(list_transform(list_zip(a.embedding, b.embedding), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_NORM_A = (
    "sqrt(list_aggregate(list_transform(a.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)
_NORM_B = (
    "sqrt(list_aggregate(list_transform(b.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)

# NULL-vector contract mirror (see valid_vec): DuckDB list aggregates
# SKIP NULL elements, so without the explicit predicate the oracle would
# compute a partial norm for a corrupt vector instead of excluding it.
_VALID_A = valid_vec_sql("a.embedding")
_VALID_B = valid_vec_sql("b.embedding")

_SIMSEARCH_ORACLE = f"""
SELECT a.vec_id AS a_id, b.vec_id AS nn_id,
       ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
WHERE a.vec_id < 100 AND {_VALID_A} AND {_VALID_B}
  AND {_NORM_A} > 0 AND {_NORM_B} > 0
QUALIFY row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC,
                                    b.vec_id) = 1
"""


@register("llm_simsearch_cosine_topk", oracle=_SIMSEARCH_ORACLE, tier="T3")
def llm_simsearch_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest later-id vector (cosine) for each of the first 100 vec_ids
    — BASELINE.md SQL-10 shape via the broadcast-probe matmul scan."""
    em = load_table(spark, sf_dir, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    top = cosine_topk(em, probes, k=1, require_gt=True)
    return top.select("a_id", "nn_id", F.round("sim", 6).alias("sim"))


_KNN_ORACLE = f"""
SELECT a_id, ROUND(avg(CAST(lbl AS DOUBLE)), 6) AS avg_label,
       ROUND(avg(sim), 6) AS avg_sim
FROM (
  SELECT a.vec_id AS a_id, b.label AS lbl,
         {_DOT} / ({_NORM_A} * {_NORM_B}) AS sim
  FROM {winner_embedding_sql()} a JOIN {winner_embedding_sql()} b
    ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 50 AND {_VALID_A} AND {_VALID_B}
    AND {_NORM_A} > 0 AND {_NORM_B} > 0
  QUALIFY row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY sim DESC, b.vec_id) <= 5
)
GROUP BY a_id
"""


@register("llm_knn_join", oracle=_KNN_ORACLE, tier="T3")
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 NN per query vector (vec_id<50) against the full corpus; mean
    neighbor label + mean similarity per query.  Same scan-side matmul as
    llm_simsearch_cosine_topk, joined back to labels on the tiny
    candidate set only.

    Duplicate-key contract (round 10, R10_DUPKEYS_PLAN class 3): the
    label join is keyed by vec_id — a re-embedded id carries two labels
    and each engine averages an arbitrary one (probed: avg_label
    drift).  Deterministic per-key winner (tables.winner_embedding) on
    both sides."""
    from un_datapipeline_spark.tables import winner_embedding

    em = winner_embedding(load_table(spark, sf_dir, "embeddings"))
    probes = em.filter(F.col("vec_id") < 50)
    top5 = cosine_topk(em, probes, k=5, exclude_self=True)
    labels = em.select(F.col("vec_id").alias("nn_id"), "label")
    return (
        top5.join(F.broadcast(labels), "nn_id")
        .groupBy("a_id")
        .agg(
            F.round(F.avg(F.col("label").cast("double")), 6).alias("avg_label"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
        )
    )


# Per-row STATS mirror of the vector-validity contract: an invalid
# embedding (NULL, NULL element, or off-dimension — round 10 extends the
# round-9 NULL layer with EMBED_DIM) contributes NULL to the value lanes
# on BOTH engines while the row still counts in n / min_dim / max_dim —
# dimension stats OBSERVE the corruption (min_dim 32 on a model-version
# mix is the signal an operator wants), value stats exclude non-vectors.
# The oracle needs the explicit CASE because DuckDB's list aggregates
# silently SKIP NULL elements (partial norm) and would happily compute a
# 32-wide norm; the Spark side needs the matching F.when because its
# aggregate computes a real number for an off-width vector too.
# coalesce(.., 0) inside the ELSE is retained for the zero-length lane
# of reused copies of this text, though under the dim contract an empty
# list never reaches the ELSE (len 0 != EMBED_DIM → NULL branch).
_NORMS_ORACLE = f"""
SELECT label,
       count(*) AS n,
       ROUND(avg(CASE WHEN NOT {valid_vec_sql("embedding")} THEN NULL ELSE
             sqrt(coalesce(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0)) END), 6)
         AS avg_l2,
       ROUND(avg(CASE WHEN NOT {valid_vec_sql("embedding")} THEN NULL ELSE
             coalesce(list_aggregate(list_transform(embedding,
             x -> CAST(x AS DOUBLE)), 'sum'), 0)
             / greatest(len(embedding), 1) END), 6)                    AS avg_mean_el,
       min(len(embedding)) AS min_dim,
       max(len(embedding)) AS max_dim
FROM embeddings
GROUP BY label
"""


@register("llm_vector_norms", oracle=_NORMS_ORACLE, tier="T3")
def llm_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2 norm / mean-element / dimension stats over the vector
    column — pure higher-order functions, fully JVM-side (the per-row
    O(dim) reduction stays in codegen; no Python boundary).  Value lanes
    are NULL for invalid vectors (see the contract mirror note above);
    n / min_dim / max_dim count every row."""
    em = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    elsum = F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x)
    return em.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.when(valid_vec(), l2_norm())), 6).alias("avg_l2"),
        # greatest(size, 1): a zero-length vector is DIVIDE_BY_ZERO under
        # ANSI Spark while DuckDB NULLs (the ADVICE r05 short-input
        # class); under the dim contract such a row takes the NULL branch,
        # but the guard keeps the expression total if the when() is ever
        # lifted.
        F.round(
            F.avg(
                F.when(
                    valid_vec(),
                    elsum / F.greatest(F.size("embedding"), F.lit(1)),
                )
            ),
            6,
        ).alias("avg_mean_el"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
    )


def train_ivf_centroids(corpus: DataFrame):
    """Deterministic mini k-means on a driver-side sample of 2048 → (16,
    dim) float64 centroid matrix.  Sample-trained coarse quantizers are the
    standard IVF pattern at scale: training cost is O(sample), never
    O(corpus); only ASSIGNMENT scans the corpus."""
    import numpy as np

    # NULL-vector contract: corrupt and zero vectors never train the
    # quantizer — it trains on exactly the rows probe_search scores
    corpus = corpus.filter(valid_vec() & (l2_norm() > 0))
    # orderBy before limit: a bare limit takes partition-layout-dependent
    # rows — ordering pins the training sample across cluster layouts.
    rows = (
        corpus.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(2048)
        .select("embedding")
        .collect()
    )
    if not rows:  # corpus has no valid vectors → no quantizer to train
        return np.zeros((0, 0))
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(42)
    cent = x[rng.choice(len(x), size=min(16, len(x)), replace=False)]
    for _ in range(5):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent


@register("llm_simsearch_ivf", oracle=None, tier="T3")
def llm_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor: a 16-cell coarse quantizer
    (sample-trained k-means, seeded/deterministic) partitions the corpus;
    each probe (vec_id < 100) searches only its n_probe=4 nearest cells.
    The probe_search scorer routes each batch row to its nearest cell and
    masks every probe's matmul column to its own cells, so the in-batch
    pick is the kernel's tie-safe top-k, not a batch-order argmax.
    Rows-only (approximate by design); recall vs the exact brute-force
    baseline is asserted in tests/test_llm_invariants.py."""
    import numpy as np

    N_PROBE = 4
    em = load_table(spark, sf_dir, "embeddings")
    cent = train_ivf_centroids(em)
    cnorm = cent / np.linalg.norm(cent, axis=1, keepdims=True)

    def in_probe_cells(b, p):
        # n_probe nearest cells per probe (by centroid cosine) vs each
        # corpus row's own cell
        p_cells = np.argsort(-(p.mat @ cnorm.T), axis=1)[:, :N_PROBE]
        b_cell = (b.mat @ cnorm.T).argmax(axis=1)
        routed = (b_cell[:, None, None] == p_cells[None, :, :]).any(axis=2)
        sims = np.where(routed, b.mat @ p.mat.T, -np.inf)
        return np.where(b.ids[:, None] == p.ids[None, :], -np.inf, sims)

    top = probe_search(em, em.filter(F.col("vec_id") < 100), 1, in_probe_cells)
    return top.select("a_id", "nn_id", F.round("sim", 6).alias("sim")).orderBy("a_id")


# avg_l2 validity-mirror: an invalid embedding's (NULL / NULL-element /
# off-dimension, see valid_vec) norm is NULL on both engines — DuckDB
# needs the CASE because its list aggregate skips NULL elements and
# computes off-width norms; Spark needs the matching F.when for the
# off-width lane.  Rows stay in n.
_EMBED_JOIN_ORACLE = f"""
SELECT d.lang,
       count(*) AS n,
       ROUND(avg(CASE WHEN NOT {valid_vec_sql("e.embedding")} THEN NULL ELSE
             sqrt(list_aggregate(list_transform(e.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) END), 6) AS avg_l2,
       ROUND(avg(d.n_chars), 6) AS avg_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.lang
"""


@register("llm_embed_join_docs", oracle=_EMBED_JOIN_ORACLE, tier="T3")
def llm_embed_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row: text metadata + vector in one DataFrame via
    doc_id=vec_id equi-join, then per-lang vector stats.  At scale both
    sides are huge → plain shuffle hash join on the key; no broadcast."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.when(valid_vec(), l2_norm())), 6).alias("avg_l2"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Graph ANN (HNSW-style NSW): per-shard navigable graph + broadcast probes
# ---------------------------------------------------------------------------

def _nsw_build(mat, m: int = 8, ef: int = 32):
    """Build a navigable-small-world graph over the (n, dim) L2-normalized
    matrix ``mat``: insert nodes in row order; each new node beam-searches
    the partial graph for its ``ef`` nearest, links to the best ``m``
    bidirectionally, and over-full neighbor lists are pruned back to the
    ``m`` closest.  Deterministic (insert order + argsort tie-breaks on
    index).  Cost O(n · ef · m) dot products — index-build is per shard,
    never global."""
    import numpy as np

    n = len(mat)
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        cand = _nsw_search(mat, nbrs, mat[i], ef=ef, n_nodes=i)
        best = cand[:m]
        nbrs[i] = [int(j) for j in best]
        for j in best:
            nbrs[j].append(i)
            if len(nbrs[j]) > m:
                sims = mat[nbrs[j]] @ mat[j]
                order = np.argsort(-sims, kind="stable")[:m]
                nbrs[j] = [nbrs[j][t] for t in order]
    return nbrs


def _nsw_search(mat, nbrs, q, ef: int, n_nodes: int):
    """Greedy beam search from node 0 over the first ``n_nodes`` nodes.
    Returns candidate node ids sorted by descending cosine to ``q``
    (ties → lower id).  Classic HNSW layer-0 search: a best-first beam of
    width ``ef``; stops when the worst beam member beats every frontier
    candidate."""
    import heapq

    import numpy as np

    visited = {0}
    s0 = float(mat[0] @ q)
    # frontier max-heap by sim (python heapq is a min-heap → negate)
    frontier = [(-s0, 0)]
    beam: list[tuple[float, int]] = [(s0, 0)]  # min-heap: worst first
    while frontier:
        neg_s, node = heapq.heappop(frontier)
        if -neg_s < beam[0][0] and len(beam) >= ef:
            break
        nxt = [j for j in nbrs[node] if j < n_nodes and j not in visited]
        if not nxt:
            continue
        visited.update(nxt)
        sims = mat[nxt] @ q
        for j, s in zip(nxt, sims):
            s = float(s)
            if len(beam) < ef:
                heapq.heappush(beam, (s, j))
                heapq.heappush(frontier, (-s, j))
            elif s > beam[0][0]:
                heapq.heapreplace(beam, (s, j))
                heapq.heappush(frontier, (-s, j))
    out = sorted(beam, key=lambda t: (-t[0], t[1]))
    return np.array([j for _, j in out], dtype=np.int64)


@register("llm_simsearch_hnsw", oracle=None, tier="T3")
def llm_simsearch_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style graph ANN, sharded the way production vector stores
    shard (per-segment index + broadcast probes + global merge): the
    probe_search scorer builds a navigable-small-world graph over each
    Arrow batch (index cost bounded per shard, no global build) and
    beam-searches it for every broadcast probe (vec_id < 100); only the
    beam's candidates get a finite sim, and the kernel's partial top-k
    and window merge pick the global winner.
    At 100 TB this is embarrassingly parallel on the corpus axis — graph
    build never leaves the shard, probes are a <100-row broadcast, and
    the reduce is candidate-bounded.  Rows-only (approximate by design);
    determinism + recall@1 ≥ the IVF path are pytest-asserted
    (tests/test_llm_invariants.py)."""
    import numpy as np

    def beam_candidates(b, p):
        # insert order must not depend on arrow batch layout
        order = np.argsort(b.ids, kind="stable")
        mat = b.mat[order]
        graph = _nsw_build(mat, m=8, ef=32)
        sims = np.full((len(mat), len(p.ids)), -np.inf)
        for j, q in enumerate(p.mat):
            cand = order[_nsw_search(mat, graph, q, ef=48, n_nodes=len(mat))]
            sims[cand, j] = b.mat[cand] @ q
        return np.where(b.ids[:, None] == p.ids[None, :], -np.inf, sims)

    em = load_table(spark, sf_dir, "embeddings")
    top = probe_search(em, em.filter(F.col("vec_id") < 100), 1, beam_candidates)
    return top.select("a_id", "nn_id", F.round("sim", 6).alias("sim")).orderBy("a_id")


# NULL-vector contract (round 9): a NULL embedding posexplodes to zero
# rows in Spark but the lateral generate_series still fabricates 8 NULL
# cells here, splitting count(*) — and a NULL ELEMENT would be skipped
# by avg on both engines while still counting in n.  Corrupt vectors are
# excluded from pooling on BOTH sides (valid_vec / valid_vec_sql).
_MEANPOOL_ORACLE = f"""
SELECT d.lang,
       CAST(p.pos AS INT)                 AS dim,
       CAST(count(*) AS BIGINT)           AS n,
       ROUND(avg(CAST(e.embedding[p.pos] AS DOUBLE)), 6) AS mean_val,
       ROUND(min(CAST(e.embedding[p.pos] AS DOUBLE)), 6) AS min_val,
       ROUND(max(CAST(e.embedding[p.pos] AS DOUBLE)), 6) AS max_val
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id,
     LATERAL (SELECT unnest(generate_series(1, 8)) AS pos) p
WHERE {valid_vec_sql("e.embedding")}
GROUP BY d.lang, p.pos
ORDER BY d.lang, dim
"""


@register("llm_embedding_mean_pool", oracle=_MEANPOOL_ORACLE, tier="T3")
def llm_embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum vector aggregation: the mean-pooled embedding (plus
    per-dimension min/max) for each language over the doc⋈vector join —
    the centroid computation behind per-domain drift monitoring and
    cluster seeding.  The vector column is posexploded to (dim, value)
    rows and aggregated per (stratum, dim): the shuffle is bounded by
    |strata| × dim regardless of corpus size, with map-side partial
    aggregation doing the heavy reduction — the scalable alternative to
    collecting vectors and averaging driver-side.  Only the first 8
    dims are emitted to keep the verification surface small; the plan
    is dimension-count-agnostic.  (Spark posexplode is 0-based, DuckDB
    list indexing 1-based — aligned explicitly; this DuckDB build lacks
    WITH ORDINALITY, so the oracle indexes via a lateral
    generate_series.)"""
    d = load_table(spark, sf_dir, "documents")
    # corrupt vectors excluded from pooling (NULL-vector contract; the
    # paired oracle carries the same predicate)
    e = load_table(spark, sf_dir, "embeddings").filter(valid_vec())
    exploded = (
        d.join(e, d.doc_id == e.vec_id)
        .select("lang", F.posexplode("embedding").alias("pos0", "val"))
        .filter(F.col("pos0") < 8)
        .select("lang", (F.col("pos0") + 1).alias("dim"), F.col("val").cast("double").alias("v"))
    )
    return (
        exploded.groupBy("lang", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v"), 6).alias("mean_val"),
            F.round(F.min("v"), 6).alias("min_val"),
            F.round(F.max("v"), 6).alias("max_val"),
        )
        .orderBy("lang", "dim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — vector compression for billion-scale ANN
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8  # 64-dim vectors → 8 subvectors of 8 dims
PQ_CODEBOOK = 16  # 16 centroids per subspace → 4 bits/code, 8 bytes/vector


def train_pq_codebooks(corpus):
    """Deterministic per-subspace k-means codebooks from a driver-side
    sample of 512 (orderBy-pinned, like the IVF trainer): training cost is
    O(sample), never O(corpus).  Returns (PQ_SUBSPACES, PQ_CODEBOOK,
    sub_dim) float64."""
    import numpy as np

    rows = (
        corpus.filter(valid_vec())  # NULL-vector contract
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(512)
        .collect()
    )
    if not rows:  # corpus has no valid vectors → no codebooks to train
        return np.zeros((PQ_SUBSPACES, PQ_CODEBOOK, 0))
    x = np.array([r[1] for r in rows], dtype=np.float64)
    sub_dim = x.shape[1] // PQ_SUBSPACES
    books = np.zeros((PQ_SUBSPACES, PQ_CODEBOOK, sub_dim))
    rng = np.random.RandomState(7)
    for s in range(PQ_SUBSPACES):
        xs = x[:, s * sub_dim : (s + 1) * sub_dim]
        # a corpus smaller than the codebook trains one centroid per
        # point (fewer codes used, codes stay valid) instead of crashing
        # rng.choice with sample > population (round-6 tiny-tables sweep)
        cent = xs[rng.choice(len(xs), size=min(PQ_CODEBOOK, len(xs)), replace=False)]
        if len(cent) < PQ_CODEBOOK:
            cent = np.vstack([cent] * (-(-PQ_CODEBOOK // len(cent))))[:PQ_CODEBOOK]
        for _ in range(5):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(PQ_CODEBOOK):
                m = assign == c
                if m.any():
                    cent[c] = xs[m].mean(axis=0)
        books[s] = cent
    return books


@register("llm_vector_pq", oracle=None, tier="T3")
def llm_vector_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim vector compresses to 8×4-bit
    codes (one per 8-dim subspace, nearest codebook centroid) — a 64×
    compression that is the second half of the standard IVF+PQ recipe
    for billion-vector ANN (llm_simsearch_ivf is the first half; at
    100 TB the codes live in RAM while raw vectors stay on disk).
    Codebooks are sample-trained driver-side (deterministic seed/order)
    and shipped in the mapInPandas closure; encoding is one corpus scan
    doing batched subspace matmuls.  Emits per-vector codes plus the
    relative reconstruction error.  Rows-only by nature (k-means);
    determinism and the compression-quality invariant (mean relative
    error well below 1) are pytest-asserted."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings").filter(valid_vec())
    books = train_pq_codebooks(em)
    if books.shape[2] == 0:  # no valid vectors → nothing to encode
        return spark.createDataFrame(
            [], "vec_id long, pq_code string, rel_err double"
        )
    sub_dim = books.shape[2]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vkeep, x = _vec_matrix(pdf)  # defensive
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)[vkeep]
            if x.shape[0] == 0:
                continue
            codes = np.zeros((len(x), PQ_SUBSPACES), dtype=np.int64)
            recon = np.zeros_like(x)
            for s in range(PQ_SUBSPACES):
                xs = x[:, s * sub_dim : (s + 1) * sub_dim]
                d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
                recon[:, s * sub_dim : (s + 1) * sub_dim] = books[s][codes[:, s]]
            err = np.linalg.norm(x - recon, axis=1) / np.linalg.norm(x, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "pq_code": ["-".join(str(c) for c in row) for row in codes],
                    "rel_err": np.round(err, 6),
                }
            )

    return (
        em.select("vec_id", "embedding")
        .mapInPandas(encode, "vec_id long, pq_code string, rel_err double")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for retrieval training
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
SELECT a.vec_id AS a_id, b.vec_id AS nn_id, b.label AS neg_label,
       ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.label <> b.label
WHERE a.vec_id < 20 AND {_VALID_A} AND {_VALID_B}
  AND {_NORM_A} > 0 AND {_NORM_B} > 0
QUALIFY row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY {_DOT} / ({_NORM_A} * {_NORM_B}) DESC,
                                    b.vec_id) <= 5
"""


@register("llm_hard_negatives", oracle=_HARDNEG_ORACLE, tier="T3")
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-retrieval training recipe
    (DPR / contriever style): for each anchor, the top-5 most similar
    vectors that carry a DIFFERENT label.  These near-miss negatives
    are what make an embedding model's contrastive loss informative;
    random negatives are trivially separable.

    The cosine_topk scan with a label-mask scorer: `label` rides along
    as a probe_search extra column, and the batch matmul masks
    same-label columns to −inf BEFORE the per-batch partial top-k — so
    the label constraint costs zero extra passes.  An unlabeled vector
    can be neither anchor nor negative: probe_search drops NULL extras,
    as the oracle's three-valued `a.label <> b.label` does."""
    import numpy as np

    def other_label(b, p):
        same = b.cols["label"][:, None] == p.cols["label"][None, :]
        return np.where(same, -np.inf, b.mat @ p.mat.T)

    em = load_table(spark, sf_dir, "embeddings")
    top = probe_search(
        em,
        em.filter(F.col("vec_id") < 20),
        5,
        other_label,
        extra_cols=("label",),
        out_schema="a_id long, nn_id long, label int, sim double",
    )
    return top.select(
        "a_id", "nn_id", F.col("label").alias("neg_label"), F.round("sim", 6).alias("sim")
    )

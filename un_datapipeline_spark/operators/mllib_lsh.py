"""Spark MLlib LSH surfaces: MinHashLSH near-dedup and
BucketedRandomProjectionLSH approximate nearest neighbors.

The hand-rolled LSH family (llm_dedup_near_minhash, llm_simsearch_lsh,
llm_simsearch_multiprobe) proves the algorithms from first principles;
these two operators cover the IDIOMATIC path a Spark shop actually
deploys — `pyspark.ml.feature.MinHashLSH` / `BucketedRandomProjectionLSH`
with `approxSimilarityJoin` — so a user migrating an MLlib pipeline finds
the same API shape here.

Both are rows-only by contract (MLlib's hash functions are
JVM-seed-specific and not reproducible in DuckDB SQL); their quality
invariants — exact-clone recall of 1.0 for MinHash, recall@k floors vs
the exact scan for BRP — are pytest-asserted in
tests/test_llm_invariants.py, mirroring the contract used for the
hand-rolled IVF/HNSW/LSH operators.

Scale shape (both): `approxSimilarityJoin` explodes each row to its
`numHashTables` hash-table entries and equi-joins on (table, hash
bucket) — candidate volume is corpus × tables, never corpus², and the
exact distance is paid only on bucket-colliding candidates.  That is the
same sub-quadratic banded-join skeleton as the hand-rolled operators,
executed entirely JVM-side on ml.linalg vectors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from un_datapipeline_spark.session import ckpt
from un_datapipeline_spark.registry import register
from un_datapipeline_spark.tables import load_table

_SEED = 42


def minhash_ml_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via MLlib MinHashLSH over binary 5-gram
    shingle features.

    HashingTF(binary=True) maps each doc's WORD-TRIGRAM shingle SET into
    a 2^18-dim sparse indicator vector (hash collisions only ever MERGE
    shingles, which biases Jaccard up — harmless for a candidate stage).
    MinHashLSH generates the candidates; the returned `jaccard_dist` is
    MLlib's EXACT Jaccard distance on the feature vectors (LSH is only
    the blocking stage), so identical texts always land at distance
    exactly 0.0.

    Shingle granularity is the scale lever here: MLlib's MinHashLSH has
    no multi-row banding (each hash table is ONE minhash, so bucket
    collision probability per table equals the pairwise Jaccard itself).
    Character shingles share too many common fragments across unrelated
    docs — measured at sf0.1 the buckets go quadratic.  Word trigrams
    push unrelated-pair Jaccard to ≈0, keeping buckets near-singleton
    while true near-dups (which share most phrases) still collide.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from un_datapipeline_spark.tables import capped_text

    # prefix-capped shingle SIGNATURE (round 10, bounded-prefix
    # contract): one 520 KB doc otherwise feeds ~500k shingles into the
    # LSH feature vector and stalls its task (rows-only op — no oracle
    # mirror needed; the recall invariant tests re-baseline)
    words = F.split(F.lower(capped_text()), "\\s+")
    # trigram shingling needs >= 3 words: on a shorter doc element_at
    # (words, i+3) runs off the array (INVALID_ARRAY_INDEX under ANSI —
    # degenerate-corpus sweep, round 6).  The CASE guard makes the
    # expression TOTAL (WHEN branches evaluate lazily per row), which a
    # plain upstream filter does not: approxSimilarityJoin re-plans the
    # input subtree and the optimizer can re-evaluate the projection
    # where the filter no longer precedes it (reproduced).  The filter
    # still runs too — MinHashLSH requires >= 1 non-zero feature, and
    # sub-trigram docs have no trigram near-dup signal by definition.
    # linear k-gram build (dedup_extras.ngram_array): the index-lambda
    # formulation re-evaluated the split per element — O(words²) per doc
    # (round-10 bigdoc probe).  The when() keeps the expression TOTAL
    # for re-planned pre-filter rows (see below).
    from un_datapipeline_spark.operators.dedup_extras import ngram_array

    shingles_expr = F.when(
        F.size(words) >= 3, ngram_array(words, 3)
    ).otherwise(F.array().cast("array<string>"))
    # Round-13 (guide §2.5, VERDICT r12 item 5): the shingle build sits
    # directly above a structurally ONE-task scan (single-row-group test
    # file), and the DISK_ONLY checkpoint below INHERITS that single
    # partition — so the HashingTF featurization, MinHashLSH hash
    # evaluation and both approxSimilarityJoin explode sides all ran
    # serial.  parallelize_scan spreads the corpus once before
    # shingling (no-op when the scan parallelizes); every downstream
    # stage then works distributed.  Same rows, same hashes — the
    # output is invariant to partitioning (pinned by
    # test_minhash_ml_pairs_partitioning_invariant).
    from un_datapipeline_spark.scale import parallelize_scan

    shingled = (
        parallelize_scan(docs.select("doc_id", "text"))
        .filter(F.size(words) >= 3)
        .select("doc_id", shingles_expr.alias("shingles"))
    )
    # Materialize BEHIND the filter: approxSimilarityJoin re-plans its
    # input subtree on both sides of the self-join, and the re-planned
    # tree evaluated the shingle transform (and MinHashLSH's non-empty-
    # vector require()) on pre-filter rows (reproduced on the degenerate
    # corpus).  The checkpoint freezes the filtered table; the self-join
    # also reuses the materialization instead of re-scanning the corpus.
    from pyspark.storagelevel import StorageLevel

    shingled = shingled.transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(shingled)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=16, seed=_SEED
    )
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, 0.5, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


@register("llm_dedup_minhash_ml", oracle=None, tier="T3")
def llm_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection through the stock MLlib pipeline
    (HashingTF binary shingles → MinHashLSH → approxSimilarityJoin) —
    the framework-native twin of llm_dedup_near_minhash.  Rows-only by
    contract (JVM-internal hash seeds); the exact-clone-recall and
    distance-exactness invariants are pytest-asserted
    (tests/test_llm_invariants.py::test_minhash_ml_clone_recall)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_ml_pairs(d).orderBy("doc_a", "doc_b")


def brp_topk(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """Top-5 Euclidean neighbors per probe via BucketedRandomProjectionLSH.

    One batched approxSimilarityJoin (probes × corpus through the hash
    buckets) followed by a per-probe window — never the driver-looped
    `approxNearestNeighbors`, which plans one job per probe.  The 1.45
    distance cap bounds the candidate radius: unit-normalized random 64-d
    vectors sit at pairwise distance ≈1.19–1.62 (measured), so 1.45 keeps
    roughly the nearer half of the corpus as candidates while
    guaranteeing headroom over every true top-5 distance.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    from un_datapipeline_spark.operators.llm_vectors import valid_vec

    def vecs(df: DataFrame) -> DataFrame:
        # NULL-vector contract (round 9): a NULL / NULL-element embedding
        # is not a vector.  The filter removes those rows — AND the
        # projection is additionally made TOTAL via the CASE guard,
        # because approxSimilarityJoin re-plans its input subtree and can
        # evaluate the projection on pre-filter rows (the minhash_ml
        # shingle lesson above, reproduced): array_to_vector(NULL) is a
        # JVM NPE there even though the row never survives the filter.
        safe = F.when(
            valid_vec(), F.col("embedding").cast("array<double>")
        ).otherwise(F.array().cast("array<double>"))
        return df.filter(valid_vec()).select(
            "vec_id", array_to_vector(safe).alias("features")
        )

    # Materialize BEHIND the filter (same lesson as minhash_ml_pairs
    # above): approxSimilarityJoin re-plans its input subtree and
    # evaluates the LSH hash UDF on pre-filter rows — the 0-dim
    # placeholder from the CASE guard then fails the model's dimension
    # check (reproduced: "A: 64, x: 0").  The checkpoint freezes the
    # filtered, projected table so only real vectors ever reach the
    # model; the join's two passes also reuse the materialization.
    from pyspark.storagelevel import StorageLevel

    c = vecs(corpus).transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    p = vecs(probes).transform(ckpt(storage_level=StorageLevel.DISK_ONLY))
    if c.isEmpty():
        # Day-one empty table, or every vector voided by the validity
        # contract: MLlib's fit() throws on a 0-row frame, but an empty
        # corpus has a perfectly defined ANN answer — no neighbors
        # (round 10, R10_EMPTY_PLAN class 3).  The isEmpty() probe reads
        # one partition of the just-materialized checkpoint — O(1).
        return corpus.sparkSession.createDataFrame(
            [], "probe_id long, rank int, neighbor_id long, dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=0.75,
        numHashTables=8,
        seed=_SEED,
    )
    model = lsh.fit(c)
    cand = model.approxSimilarityJoin(p, c, 1.45, distCol="dist").select(
        F.col("datasetA.vec_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.col("dist"),
    )
    cand = cand.filter(F.col("probe_id") != F.col("neighbor_id"))
    w = Window.partitionBy("probe_id").orderBy("dist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", F.round("dist", 6).alias("dist"))
    )


@register("llm_ann_brp_lsh", oracle=None, tier="T3")
def llm_ann_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors through MLlib's
    BucketedRandomProjectionLSH (Euclidean LSH): 10 probe vectors batch-
    joined against the corpus via the hash buckets, exact distance on
    candidates only, per-probe top-5.  Rows-only by contract; recall@1
    and top-k-overlap floors vs the exact scan are pytest-asserted
    (tests/test_llm_invariants.py::test_brp_lsh_recall)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    return brp_topk(e, probes).orderBy("probe_id", "rank")

"""Oracle-free invariants for the rows-only LLM operators (SURVEY.md §5.2b).

MinHash/LSH can't be hash-matched against DuckDB (engine-specific hash
functions), so its correctness gate is the recall property: every pair
of EXACTLY identical texts must appear among the candidate pairs —
identical shingle sets give identical signatures, hence identical band
buckets, so recall of exact duplicates is 1.0 by construction.  Any
regression in shingling/banding breaks this immediately.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from un_datapipeline_spark.operators.llm_text import (
    N_HASHES,
    lsh_candidate_pairs,
    minhash_signatures,
    verify_candidates_jaccard,
)
from un_datapipeline_spark.tables import load_table


def test_minhash_exact_dup_recall(spark, sf_t2):
    # Manufacture guaranteed exact duplicates: clone every doc under
    # doc_id+OFFSET, so (i, i+OFFSET) must all surface as candidates.
    OFFSET = 1_000_000
    base = load_table(spark, sf_t2, "documents").select("doc_id", "text")
    clones = base.select((F.col("doc_id") + OFFSET).alias("doc_id"), "text")
    d = base.unionByName(clones)
    n = base.count()
    cand_df = lsh_candidate_pairs(minhash_signatures(d))
    cands = {(r.a, r.b) for r in cand_df.collect()}
    expected = {(i, i + OFFSET) for i in range(n)}
    missing = expected - cands
    assert not missing, f"exact duplicates missing from candidates: {sorted(missing)[:5]}"
    # Banding precision (round-1 flag): candidates must be a small
    # fraction of all pairs, not ~32% as with the old 2-row bands.
    total_pairs = (2 * n) * (2 * n - 1) // 2
    assert len(cands) < 0.05 * total_pairs, (
        f"banding too permissive: {len(cands)}/{total_pairs} pairs are candidates"
    )
    # Verification stage keeps every exact clone at jaccard exactly 1.0.
    verified = {
        (r.a, r.b): r.jaccard for r in verify_candidates_jaccard(d, cand_df).collect()
    }
    for pair in expected:
        assert verified.get(pair) == 1.0, f"clone pair {pair} lost in verification"


def test_minhash_signature_shape(spark, sf_smoke):
    d = load_table(spark, sf_smoke, "documents")
    sigs = minhash_signatures(d)
    assert sigs.count() == d.count()
    assert len(sigs.columns) == 1 + N_HASHES


def test_signatures_from_sets_match_aggregate_path(spark, sf_smoke):
    """Round-12 optimization pin: the set-derived signature lane
    (array_min over a transform on materialized shingle sets — the path
    llm_dedup_near_minhash / llm_neardup_cluster now run) must be
    value-identical to the original exploded-aggregate lane for every
    doc and every hash index — same elements, same xxhash64, same min."""
    from un_datapipeline_spark.operators.llm_text import (
        _signatures_from_sets,
        shingle_sets,
    )

    d = load_table(spark, sf_smoke, "documents")
    via_agg = {r["doc_id"]: tuple(r)[1:] for r in minhash_signatures(d).collect()}
    via_sets = {
        r["doc_id"]: tuple(r)[1:]
        for r in _signatures_from_sets(shingle_sets(d)).collect()
    }
    assert via_agg == via_sets


def test_ivf_recall_vs_brute_force(spark, sf_t2):
    """IVF with n_probe=4 of 16 cells must recover a solid fraction of
    the exact nearest neighbors (random 64-d data is a hard case for
    coarse quantizers; identical-plan determinism is also asserted)."""
    from un_datapipeline_spark.operators.llm_vectors import (
        cosine_topk,
        llm_simsearch_ivf,
    )
    from un_datapipeline_spark.registry import all_operators

    em = load_table(spark, sf_t2, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    exact = {
        r.a_id: r.nn_id for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    ivf_fn = all_operators()["llm_simsearch_ivf"].fn
    got1 = {r.a_id: r.nn_id for r in ivf_fn(spark, sf_t2).collect()}
    got2 = {r.a_id: r.nn_id for r in ivf_fn(spark, sf_t2).collect()}
    assert got1 == got2, "IVF result must be deterministic run-to-run"
    assert len(got1) == len(exact) == 100
    recall = sum(got1.get(a) == nn for a, nn in exact.items()) / len(exact)
    assert recall >= 0.5, f"IVF recall@1 too low: {recall}"


def test_multiprobe_recall_at_least_single_probe(spark, sf_t2):
    """Multi-probe LSH (own bucket + 1-bit flips) must match every
    single-probe answer's coverage: each probe's candidate set is a
    strict superset, so recall@1 vs brute force can only improve."""
    from un_datapipeline_spark.operators.llm_vectors import cosine_topk
    from un_datapipeline_spark.registry import all_operators

    em = load_table(spark, sf_t2, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    exact = {
        r.a_id: r.nn_id
        for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    ops = all_operators()
    single = {r.a_id: r.nn_id for r in ops["llm_simsearch_lsh"].fn(spark, sf_t2).collect()}
    multi = {r.a_id: r.nn_id for r in ops["llm_simsearch_multiprobe"].fn(spark, sf_t2).collect()}
    recall_s = sum(single.get(a) == nn for a, nn in exact.items()) / len(exact)
    recall_m = sum(multi.get(a) == nn for a, nn in exact.items()) / len(exact)
    assert len(multi) == 100  # every probe finds at least one candidate
    assert recall_m >= recall_s, f"multi-probe recall {recall_m} < single {recall_s}"


def test_simhash_exact_dup_distance_zero(spark, sf_smoke):
    """Identical texts must produce identical SimHash signatures, hence
    Hamming distance 0 and guaranteed candidate-pair membership."""
    from un_datapipeline_spark.operators.dedup_extras import (
        simhash_bands,
        simhash_near_pairs,
    )

    OFFSET = 1_000_000
    base = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    clones = base.select((F.col("doc_id") + OFFSET).alias("doc_id"), "text")
    d = base.unionByName(clones)
    n = base.count()
    pairs = {
        (r.a, r.b): r.hamming
        for r in simhash_near_pairs(simhash_bands(d)).collect()
    }
    for i in range(n):
        assert pairs.get((i, i + OFFSET)) == 0, f"clone pair ({i}) missing or nonzero"


def test_dedup_cluster_covers_exact_dups(spark, sf_t2):
    """All members of an exact-duplicate group must land in the SAME
    connected component (md5-equal edges guarantee it structurally;
    this guards the label-propagation convergence)."""
    from un_datapipeline_spark.operators.advanced import (
        _dup_edges,
        connected_components,
    )

    # sf0.001/sf0.01 documents have no exact dups — manufacture them:
    # clone every 5th doc TWICE (ids +1M and +2M) so each group has 3
    # members whose cluster co-membership requires transitivity.
    OFFSET = 1_000_000
    base = load_table(spark, sf_t2, "documents")
    cloned = base.filter(F.col("doc_id") % 5 == 0)
    d = base.unionByName(
        cloned.withColumn("doc_id", F.col("doc_id") + OFFSET)
    ).unionByName(
        cloned.withColumn("doc_id", F.col("doc_id") + 2 * OFFSET)
    )
    labels = {
        r.node: r.label for r in connected_components(_dup_edges(d)).collect()
    }
    n_dup_groups = 0
    for r in cloned.select("doc_id").collect():
        members = [r.doc_id, r.doc_id + OFFSET, r.doc_id + 2 * OFFSET]
        n_dup_groups += 1
        got = {labels.get(m) for m in members}
        assert len(got) == 1 and None not in got, (
            f"exact-dup group {members} split across clusters {got}"
        )
    assert n_dup_groups > 0


def test_fingerprint_exact_dup_containment(spark, sf_smoke, tmp_path):
    """A cloned doc shares ALL fingerprints with its original, so every
    clone pair must appear in the full-containment output."""
    import __spark_entry__  # noqa: F401  (ensures registry import path works)
    from un_datapipeline_spark.operators.text_analysis import llm_doc_fingerprint
    from un_datapipeline_spark.registry import all_operators

    assert "llm_doc_fingerprint" in all_operators()
    # containment invariant via direct clone construction
    OFFSET = 1_000_000
    base = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    import pyspark.sql.functions as FF

    tmp = str(tmp_path)
    clones = base.select((FF.col("doc_id") + OFFSET).alias("doc_id"), "text")
    base.unionByName(clones).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = llm_doc_fingerprint(spark, tmp)
    got = {(r.a, r.b) for r in out.collect()}
    n = base.count()
    # mod-16 hash sampling can leave a short doc with ZERO fingerprints
    # (~(15/16)^shingles); containment is only defined for sampled docs.
    from un_datapipeline_spark.operators.text_analysis import _fingerprints

    sampled = {r.doc_id for r in _fingerprints(base).select("doc_id").distinct().collect()}
    expected = {(i, i + OFFSET) for i in range(n) if i in sampled}
    assert len(expected) > 0.9 * n, "sampling should cover almost all docs"
    missing = expected - got
    assert not missing, f"clone containment pairs missing: {sorted(missing)[:5]}"


def test_approx_percentile_error_bound(spark, sf_t2):
    """approx_percentile (accuracy 10000) must land within 1% of the
    exact interpolated percentile for every flag × quantile."""
    from un_datapipeline_spark.registry import all_operators

    approx = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in all_operators()["agg_approx_percentile"].fn(spark, sf_t2).collect()
    }
    li = load_table(spark, sf_t2, "lineitem")
    exact = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, vals in approx.items():
        for a, e in zip(vals, exact[flag]):
            assert abs(a - e) <= 0.01 * e, f"{flag}: approx {a} vs exact {e}"


def test_hnsw_recall_beats_ivf(spark, sf_t2):
    """Graph ANN (per-shard NSW + beam search) must be deterministic and
    recover at least the IVF path's recall@1 vs brute force (VERDICT.md
    round 3 item 8's done-bar).  Measured at regeneration: HNSW 0.98,
    IVF 0.63."""
    from un_datapipeline_spark.operators.llm_vectors import cosine_topk
    from un_datapipeline_spark.registry import all_operators

    em = load_table(spark, sf_t2, "embeddings")
    probes = em.filter(F.col("vec_id") < 100)
    exact = {
        r.a_id: r.nn_id
        for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    ops = all_operators()
    got1 = {r.a_id: r.nn_id for r in ops["llm_simsearch_hnsw"].fn(spark, sf_t2).collect()}
    got2 = {r.a_id: r.nn_id for r in ops["llm_simsearch_hnsw"].fn(spark, sf_t2).collect()}
    assert got1 == got2, "HNSW result must be deterministic run-to-run"
    assert len(got1) == len(exact) == 100
    ivf = {r.a_id: r.nn_id for r in ops["llm_simsearch_ivf"].fn(spark, sf_t2).collect()}
    recall_h = sum(got1.get(a) == nn for a, nn in exact.items()) / len(exact)
    recall_i = sum(ivf.get(a) == nn for a, nn in exact.items()) / len(exact)
    assert recall_h >= max(recall_i, 0.8), (
        f"HNSW recall@1 {recall_h} below IVF {recall_i} / 0.8 floor"
    )


def test_pq_deterministic_and_compresses(spark, sf_t2):
    """PQ codes must be stable run-to-run (seeded sample-trained
    codebooks) and reconstruct most of the vector energy: mean relative
    reconstruction error < 0.9 (random 64-d data is the worst case for
    16-cell subspace codebooks; real embeddings do far better)."""
    from un_datapipeline_spark.registry import all_operators

    fn = all_operators()["llm_vector_pq"].fn
    a = {r.vec_id: (r.pq_code, r.rel_err) for r in fn(spark, sf_t2).collect()}
    b = {r.vec_id: (r.pq_code, r.rel_err) for r in fn(spark, sf_t2).collect()}
    assert a == b, "PQ encoding must be deterministic"
    assert len(a) == 500
    errs = [e for _, e in a.values()]
    assert all(0 <= e <= 1.5 for e in errs)
    mean_err = sum(errs) / len(errs)
    assert mean_err < 0.9, f"PQ reconstruction too lossy: {mean_err}"


def test_pq_adc_recall_vs_exact(spark, sf_t2):
    """PQ codes must carry real neighborhood signal (VERDICT.md round 4,
    item 4): decode each corpus vector from its emitted code string and
    run asymmetric distance computation (exact probe × reconstructed
    corpus, the standard ADC search) for the first 100 probes.  Random
    64-d vectors are the worst case for 8×4-bit codes — measured ADC
    recall@1 here is ~0.08 vs ~0.002 chance (1/499), and the exact NN
    lands in the PQ top-10 shortlist ~45% of the time — so the pinned
    floors (recall@1 ≥ 10× chance, shortlist containment ≥ 0.25) fail
    only if the codes stop encoding geometry, not on sampling noise.
    In production PQ is exactly this shortlist + exact re-rank."""
    import numpy as np

    from un_datapipeline_spark.operators.llm_vectors import (
        PQ_SUBSPACES,
        cosine_topk,
        train_pq_codebooks,
    )
    from un_datapipeline_spark.registry import all_operators

    em = load_table(spark, sf_t2, "embeddings")
    books = train_pq_codebooks(em)
    sub_dim = books.shape[2]
    codes = {
        r.vec_id: [int(c) for c in r.pq_code.split("-")]
        for r in all_operators()["llm_vector_pq"].fn(spark, sf_t2).collect()
    }
    rows = em.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    recon = np.zeros_like(x)
    for i, vid in enumerate(ids):
        for s in range(PQ_SUBSPACES):
            recon[i, s * sub_dim : (s + 1) * sub_dim] = books[s][codes[vid][s]]
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    rn = recon / np.linalg.norm(recon, axis=1, keepdims=True)

    probes = em.filter(F.col("vec_id") < 100)
    exact = {
        r.a_id: r.nn_id
        for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    probe_pos = np.where(ids < 100)[0]
    sims = xn[probe_pos] @ rn.T
    hits1 = in_top10 = 0
    for row, p in enumerate(probe_pos):
        s = sims[row].copy()
        s[p] = -np.inf  # exclude self, as cosine_topk does
        hits1 += ids[int(s.argmax())] == exact[ids[p]]
        in_top10 += exact[ids[p]] in set(ids[np.argsort(s)[-10:]])
    n = len(probe_pos)
    chance = 1.0 / (len(ids) - 1)
    assert hits1 / n >= 10 * chance, f"PQ ADC recall@1 {hits1 / n} ≈ chance"
    assert in_top10 / n >= 0.25, (
        f"exact NN in PQ top-10 shortlist only {in_top10 / n}"
    )


def test_rouge_overlap_metric_bounds(spark, sf_smoke):
    from un_datapipeline_spark.operators.llm_text import llm_rouge_overlap

    rows = llm_rouge_overlap(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.doc_b == r.doc_a + 1
        assert 0 < r.n_common <= min(r.n_a, r.n_b)
        assert 0 < r.p <= 1.0 and 0 < r.r <= 1.0
        assert min(r.p, r.r) - 1e-9 <= r.f1 <= max(r.p, r.r) + 1e-9


def test_semdedup_invariants(spark, sf_t2):
    """SemDeDup contract: deterministic; every pruned doc certifies a KEPT
    duplicate in its own cluster with cosine ≥ τ; kept docs are pairwise
    below τ within each cluster (the greedy guarantee)."""
    import numpy as np

    from un_datapipeline_spark.operators.training_prep import SEMDEDUP_TAU
    from un_datapipeline_spark.registry import all_operators

    fn = all_operators()["llm_semdedup"].fn
    a = {r.vec_id: (r.cluster_id, r.keep, r.dup_of) for r in fn(spark, sf_t2).collect()}
    b = {r.vec_id: (r.cluster_id, r.keep, r.dup_of) for r in fn(spark, sf_t2).collect()}
    assert a == b, "SemDeDup must be deterministic run-to-run"
    assert len(a) == 500 and any(not v[1] for v in a.values()), "expected some pruning"

    em = load_table(spark, sf_t2, "embeddings").select("vec_id", "embedding").collect()
    vec = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in em}
    nrm = {k: v / np.linalg.norm(v) for k, v in vec.items()}
    by_cluster: dict[int, list[int]] = {}
    for vid, (cid, keep, dup_of) in a.items():
        if keep:
            by_cluster.setdefault(cid, []).append(vid)
        else:
            kc, kk, _ = a[dup_of]
            assert kk, f"dup_of {dup_of} of {vid} is not kept"
            assert kc == cid, "duplicate points at a kept doc in another cluster"
            assert nrm[vid] @ nrm[dup_of] >= SEMDEDUP_TAU - 1e-9
    for cid, kept in by_cluster.items():
        m = np.stack([nrm[v] for v in kept])
        sims = m @ m.T
        np.fill_diagonal(sims, -1.0)
        assert sims.max() < SEMDEDUP_TAU + 1e-9, f"kept pair ≥ τ in cluster {cid}"


def test_dsir_weights_separate_target_language(spark, sf_t2):
    """The property DSIR importance resampling relies on: documents drawn
    from the target distribution ('en') must score a higher mean
    normalized ratio than off-target documents."""
    from un_datapipeline_spark.registry import all_operators

    rows = all_operators()["llm_dsir_ngram_weights"].fn(spark, sf_t2).collect()
    en = [r.avg_ratio for r in rows if r.lang == "en"]
    other = [r.avg_ratio for r in rows if r.lang != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other), (
        "target-language docs should out-score off-target docs"
    )


def test_neardup_cluster_end_to_end_clone_recall(spark, sf_smoke, tmp_path):
    """The composed minhash→verify→CC flow must place exact clones in the
    same cluster with the original as the canonical member (min id)."""
    OFFSET = 1_000_000
    base = load_table(spark, sf_smoke, "documents")
    clones = base.withColumn("doc_id", F.col("doc_id") + OFFSET)
    tmp = str(tmp_path)
    base.unionByName(clones).write.mode("overwrite").parquet(
        f"{tmp}/documents.parquet"
    )
    from un_datapipeline_spark.registry import all_operators

    rows = all_operators()["llm_neardup_cluster"].fn(spark, tmp).collect()
    n = base.count()
    # Every doc has at least the clone edge, so all 2n nodes are labeled;
    # clusters may merge beyond clone pairs (near-dup relations chain),
    # but each cluster must contain BOTH halves: its min (an original,
    # the canonical) and at least one clone (jaccard-1.0 edges cannot be
    # dropped, so a clone always rides with its original).
    assert sum(r.n_members for r in rows) == 2 * n
    for r in rows:
        assert r.cluster_rep < OFFSET, "clone-only cluster is impossible"
        assert r.canonical_doc == r.cluster_rep
        assert r.max_doc >= OFFSET, f"cluster {r.cluster_rep} lost its clone"
        assert r.n_members >= 2


def test_minhash_ml_clone_recall(spark, sf_smoke):
    """MLlib MinHashLSH path (llm_dedup_minhash_ml): identical texts have
    identical feature vectors, so they collide in EVERY hash table and
    approxSimilarityJoin reports their exact Jaccard distance as 0.0 —
    clone recall is 1.0 by construction, any shingling/feature regression
    breaks this immediately.  Candidate volume must also stay
    sub-quadratic (word-trigram shingles keep unrelated-pair Jaccard ≈0)."""
    from un_datapipeline_spark.operators.mllib_lsh import minhash_ml_pairs

    OFFSET = 1_000_000
    base = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    clones = base.select((F.col("doc_id") + OFFSET).alias("doc_id"), "text")
    d = base.unionByName(clones)
    n = base.count()
    got = {(r.doc_a, r.doc_b): r.jaccard_dist for r in minhash_ml_pairs(d).collect()}
    expected = {(i, i + OFFSET) for i in range(n)}
    missing = expected - set(got)
    assert not missing, f"clone pairs missing: {sorted(missing)[:5]}"
    for pair in expected:
        assert got[pair] == 0.0, f"clone pair {pair} at nonzero distance {got[pair]}"
    total_pairs = (2 * n) * (2 * n - 1) // 2
    assert len(got) < 0.05 * total_pairs, (
        f"LSH blocking too permissive: {len(got)}/{total_pairs} candidate pairs"
    )


def test_brp_lsh_recall(spark, sf_t2):
    """BucketedRandomProjectionLSH ANN (llm_ann_brp_lsh) vs the exact
    scan.  Unit-normalized embeddings make Euclidean and cosine rankings
    identical (d² = 2 − 2·cos), so cosine_topk is the exact baseline.
    Measured recall@1 is 1.0 and top-5 overlap 0.98–1.0 at sf0.01/sf0.1;
    floors leave slack for hash-seed sensitivity."""
    from un_datapipeline_spark.operators.llm_vectors import cosine_topk
    from un_datapipeline_spark.operators.mllib_lsh import brp_topk

    em = load_table(spark, sf_t2, "embeddings")
    probes = em.filter(F.col("vec_id") < 10)
    exact1 = {
        r.a_id: r.nn_id
        for r in cosine_topk(em, probes, k=1, exclude_self=True).collect()
    }
    rows1 = brp_topk(em, probes).collect()
    rows2 = brp_topk(em, probes).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2)), (
        "BRP-LSH result must be deterministic run-to-run"
    )
    brp1 = {r.probe_id: r.neighbor_id for r in rows1 if r.rank == 1}
    assert len(brp1) == 10  # every probe answered
    recall1 = sum(brp1.get(a) == nn for a, nn in exact1.items()) / len(exact1)
    assert recall1 >= 0.7, f"BRP recall@1 too low: {recall1}"
    exact5: dict[int, set] = {}
    for r in cosine_topk(em, probes, k=5, exclude_self=True).collect():
        exact5.setdefault(r.a_id, set()).add(r.nn_id)
    top5: dict[int, set] = {}
    for r in rows1:
        top5.setdefault(r.probe_id, set()).add(r.neighbor_id)
    overlap = sum(len(top5.get(a, set()) & s) for a, s in exact5.items()) / sum(
        len(s) for s in exact5.values()
    )
    assert overlap >= 0.7, f"BRP top-5 overlap too low: {overlap}"


def test_mg_survivor_superset(spark, sf_t2):
    """Misra-Gries guarantee behind agg_heavy_hitters_mg's exactness:
    every word with global frequency > N/slots — in particular each true
    top-10 word — must appear among the stage-1 survivors."""
    from un_datapipeline_spark.operators.aggregations import mg_survivors

    d = load_table(spark, sf_t2, "documents")
    words = d.select(F.explode(F.split(F.lower("text"), " ")).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$")
    )
    surv = {r.w for r in mg_survivors(words).distinct().collect()}
    top10 = [
        r.w
        for r in words.groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(10)
        .collect()
    ]
    missing = [w for w in top10 if w not in surv]
    assert not missing, f"true heavy hitters lost by MG: {missing}"


def test_lttb_shape_invariants(spark, sf_t2):
    """ts_lttb_downsample (hash-matched) structural properties: exactly
    K points per series in bucket order, endpoints pinned, every kept
    point is a real point of the daily series."""
    from un_datapipeline_spark.registry import all_operators
    from un_datapipeline_spark.operators.time_series import _LTTB_K

    fn = all_operators()["ts_lttb_downsample"].fn
    rows = fn(spark, sf_t2).collect()
    by_series: dict[str, list] = {}
    for r in rows:
        by_series.setdefault(r.event_type, []).append(r)
    e = load_table(spark, sf_t2, "events")
    daily = {
        (r.event_type, r.x, r.y)
        for r in e.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .collect()
    }
    xs = sorted({x for (_, x, _) in daily})
    for et, sel in by_series.items():
        sel.sort(key=lambda r: r.sel_order)
        assert len(sel) == _LTTB_K
        assert [r.sel_order for r in sel] == list(range(_LTTB_K))
        series_x = sorted(x for (t, x, _) in daily if t == et)
        assert sel[0].x_day == series_x[0], "first point must be pinned"
        assert sel[-1].x_day == series_x[-1], "last point must be pinned"
        for r in sel:
            assert (et, r.x_day, r.y_cents) in daily, "kept point not in series"
        assert [r.x_day for r in sel] == sorted(r.x_day for r in sel)
    assert xs, "daily grid empty"


def test_connected_components_paths_agree(spark, sf_smoke, monkeypatch):
    """The size-gated union-find (small graphs) and the iterative
    min-label propagation (unbounded graphs) must return IDENTICAL
    (node, label) maps — the min-label fixpoint is unique, so this
    pins both implementations to it.  Forcing the CC_LOCAL_EDGES
    threshold to 0 exercises the distributed loop on the same edges the
    small path handles by default."""
    from un_datapipeline_spark.operators import advanced
    from un_datapipeline_spark.operators.advanced import (
        _dup_edges,
        connected_components,
    )

    d = load_table(spark, sf_smoke, "documents")
    edges = _dup_edges(d).localCheckpoint()
    small = {r.node: r.label for r in connected_components(edges).collect()}
    monkeypatch.setattr(advanced, "CC_LOCAL_EDGES", 0)
    big = {r.node: r.label for r in connected_components(edges).collect()}
    assert small == big
    assert small, "sf0.001 dup graph must be non-empty"


def test_minhash_ml_pairs_partitioning_invariant(spark, sf_smoke):
    """Round-13 pin for the parallelize_scan rewrite of minhash_ml_pairs
    (the 0f0e1d6 doctrine: a rows-only optimization needs a value-
    identity pin against the old lane, not just invariants).  The old
    lane ran the whole pipeline on the scan's single partition; the new
    lane spreads the corpus first.  MLlib's MinHash functions are
    seeded per-row constants and the reported distance is the EXACT
    Jaccard on feature vectors, so the pair set must be bitwise
    invariant to input partitioning: forcing the old single-partition
    layout must reproduce the distributed output exactly."""
    from un_datapipeline_spark.operators.mllib_lsh import minhash_ml_pairs

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    new_lane = sorted(map(tuple, minhash_ml_pairs(d).collect()))
    old_lane = sorted(
        map(tuple, minhash_ml_pairs(d.coalesce(1)).collect())
    )
    assert new_lane == old_lane
    assert new_lane, "smoke corpus must produce at least one candidate pair"

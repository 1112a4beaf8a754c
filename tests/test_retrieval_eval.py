"""Semantic invariants for the retrieval / classifier evaluation harness
(operators/retrieval_eval.py).  Hash parity vs DuckDB is covered by
test_oracle_parity / the sweep's --sf mirror; these tests pin the METRIC ALGEBRA with
independent rederivations and bound checks."""

from __future__ import annotations

import math

from un_datapipeline_spark.operators.retrieval_eval import (
    _EVAL_K,
    _RRF_K,
    _RRF_SCALE,
    _W,
    _WP,
    llm_classifier_eval_metrics,
    llm_retrieval_ndcg_eval,
    llm_retrieval_rrf_fusion,
)
from un_datapipeline_spark.tables import load_table


def test_discount_table_is_the_log2_floor():
    # the inlined literals must be floor(1e9 / log2(r+1)) and strictly
    # decreasing; prefix sums must telescope
    for r, w in enumerate(_W, start=1):
        assert w == int(10**9 / math.log2(r + 1))
    assert list(_W) == sorted(_W, reverse=True)
    assert all(_WP[i] - _WP[i - 1] == _W[i - 1] for i in range(1, len(_WP)))


def test_rrf_fusion_bounds_and_rank_consistency(spark, sf_smoke):
    rows = llm_retrieval_rrf_fusion(spark, sf_smoke).collect()
    assert len(rows) == 50  # 10 queries x top-5
    max_contrib = _RRF_SCALE // (_RRF_K + 1)
    per_q: dict[int, list] = {}
    for r in rows:
        assert 0 < r.rrf_scaled <= 2 * max_contrib
        # a rank-0 report means "absent from that system's list" and the
        # fused score must then be exactly the other system's term
        terms = [
            _RRF_SCALE // (_RRF_K + k) if k else 0
            for k in (r.rank_uni, r.rank_bi)
        ]
        assert r.rrf_scaled == sum(terms)
        per_q.setdefault(r.q_id, []).append(r)
    for q, rs in per_q.items():
        assert len(rs) == 5
        scores = [r.rrf_scaled for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_ndcg_bounds_and_mrr_identity(spark, sf_smoke):
    rows = llm_retrieval_ndcg_eval(spark, sf_smoke).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_rel_top10 <= _EVAL_K
        if r.first_rel_rank == 0:
            assert r.n_rel_top10 == 0 and r.rr_scaled == 0 and r.dcg_scaled == 0
        else:
            assert 1 <= r.first_rel_rank <= _EVAL_K
            assert r.rr_scaled == 10**9 // r.first_rel_rank
            assert r.dcg_scaled > 0
        # DCG can never exceed the global ideal
        assert 0 <= r.dcg_scaled <= r.idcg_scaled
        assert r.ndcg is not None and 0.0 <= r.ndcg <= 1.0
        # idcg = WP[a] + WP[b] for some a <= b <= k: bounded by 2*WP[k]
        assert 0 < r.idcg_scaled <= 2 * _WP[_EVAL_K]


def test_classifier_metrics_rederived_in_pandas(spark, sf_smoke):
    out = {r.band: r for r in llm_classifier_eval_metrics(spark, sf_smoke).collect()}
    docs = load_table(spark, sf_smoke, "documents").select("text").toPandas()
    stop = {"the", "and", "of", "to", "a", "in", "is", "it"}
    cells: dict[tuple[str, str], int] = {}
    for text in docs["text"]:
        ws = text.lower().split(" ")
        n_words = len(ws)
        logit = (
            5 * sum(w in stop for w in ws)
            + n_words
            - 4 * sum(w.isdigit() for w in ws)
        )
        pred = "keep" if logit >= 90 else ("review" if logit >= 50 else "drop")
        gold = "keep" if n_words >= 60 else ("review" if n_words >= 30 else "drop")
        cells[(gold, pred)] = cells.get((gold, pred), 0) + 1
    total = sum(cells.values())
    correct = sum(n for (g, p), n in cells.items() if g == p)
    for band in ("drop", "keep", "review"):
        support = sum(n for (g, _), n in cells.items() if g == band)
        predicted = sum(n for (_, p), n in cells.items() if p == band)
        tp = cells.get((band, band), 0)
        r = out[band]
        assert (r.support, r.predicted, r.tp) == (support, predicted, tp)
        assert r.fp == predicted - tp and r.fn == support - tp
        assert r.precision_ppm == (10**6 * tp // predicted if predicted else 0)
        assert r.recall_ppm == (10**6 * tp // support if support else 0)
        assert r.f1_ppm == (
            2 * 10**6 * tp // (support + predicted) if support + predicted else 0
        )
    micro = out["all"]
    assert micro.support == total and micro.tp == correct
    # micro-average identity: P = R = F1 = accuracy
    acc = 10**6 * correct // total
    assert micro.precision_ppm == micro.recall_ppm == micro.f1_ppm == acc


def test_ranker_agreement_rederived_in_python(spark, sf_smoke):
    from un_datapipeline_spark.operators.retrieval_eval import (
        _LIST_LEN,
        _bigram_ranks,
        _unigram_ranks,
        llm_ranker_agreement,
    )

    out = {r.q_id: r for r in llm_ranker_agreement(spark, sf_smoke).collect()}
    uni = _unigram_ranks(spark, sf_smoke, _LIST_LEN).collect()
    bi = _bigram_ranks(spark, sf_smoke, _LIST_LEN).collect()
    ru = {(r.q_id, r.c_id): r.r for r in uni}
    rb = {(r.q_id, r.c_id): r.r for r in bi}
    for q in out:
        common = sorted(
            c for (qq, c) in ru if qq == q and (qq, c) in rb
        )
        m = len(common)
        r = out[q]
        assert r.overlap == m
        # Spearman from scratch
        by_u = sorted(common, key=lambda c: ru[(q, c)])
        by_b = sorted(common, key=lambda c: rb[(q, c)])
        ra = {c: i + 1 for i, c in enumerate(by_u)}
        rb2 = {c: i + 1 for i, c in enumerate(by_b)}
        sum_d2 = sum((ra[c] - rb2[c]) ** 2 for c in common)
        assert r.sum_d2 == sum_d2
        if m > 1:
            rho = 1.0 - 6.0 * sum_d2 / (m * (m * m - 1))
            assert abs(r.rho - rho) < 1e-6
        # Kendall from scratch
        conc = disc = 0
        for x in range(m):
            for y in range(x + 1, m):
                a, b_ = common[x], common[y]
                s = (ru[(q, a)] - ru[(q, b_)]) * (rb[(q, a)] - rb[(q, b_)])
                conc += s > 0
                disc += s < 0
        assert (r.n_conc, r.n_disc) == (conc, disc)
        if m > 1:
            tau = 2.0 * (conc - disc) / (m * (m - 1))
            assert abs(r.tau - tau) < 1e-6
        assert -1.0 <= r.tau <= 1.0 and -1.0 <= r.rho <= 1.0


def test_kappa_identity_and_bounds(spark, sf_smoke):
    from un_datapipeline_spark.operators.retrieval_eval import (
        llm_annotator_agreement,
        llm_classifier_eval_metrics,
    )

    row = llm_annotator_agreement(spark, sf_smoke).collect()
    assert len(row) == 1
    r = row[0]
    # consistency with the confusion-matrix op's micro row
    micro = {
        m.band: m for m in llm_classifier_eval_metrics(spark, sf_smoke).collect()
    }["all"]
    assert r.n_items == micro.support and r.n_agree == micro.tp
    assert r.po_ppm == micro.precision_ppm
    # kappa identity: (N*agree - pe_num) / (N^2 - pe_num)
    num = r.n_items * r.n_agree - r.pe_num
    den = r.n_items * r.n_items - r.pe_num
    assert abs(r.kappa - num / den) < 1e-6
    assert -1.0 <= r.kappa <= 1.0
    # chance-corrected agreement must not exceed raw agreement
    assert r.kappa <= r.po_ppm / 1e6 + 1e-9


def test_short_doc_corpus_does_not_crash(spark, tmp_path):
    """ADVICE r05 regression: a 1-word (or empty-text) document used to
    crash _bigram_ranks (sequence(0,-1) descends → ws[-1] throws
    INVALID_ARRAY_INDEX under ANSI) and mm_phash_dedup (`% length(text)`
    divides by zero on empty text).  Both now guard short inputs; this
    corpus is nothing but short inputs."""
    import pandas as pd

    from un_datapipeline_spark.operators.multimodal import mm_phash_dedup
    from un_datapipeline_spark.operators.retrieval_eval import _bigram_ranks

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "one", "two words", "a b c"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 3, 9, 5],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    ranks = _bigram_ranks(spark, sf, 5).collect()
    # only docs 2 and 3 have bigrams; doc 3 shares none with doc 2, so the
    # rank table is empty — the point is it EXECUTES, not what it returns
    assert all(r.q_id in (2, 3) for r in ranks)

    prof = mm_phash_dedup(spark, sf).collect()
    assert len(prof) == 4  # one collision-profile row per band

"""Invariant tests for the corpus-quality operator batch (repetition
flags, boilerplate grams, stratified sampling, domain mixture,
attribution, curriculum buckets).  Oracle parity runs in
test_oracle_parity / the sweep's --sf mirror; these assert the semantic invariants no
hash can express."""

from __future__ import annotations

from collections import defaultdict

from un_datapipeline_spark.operators.corpus_quality import (
    etl_domain_mixture,
    etl_stratified_sample,
    llm_boilerplate_ngrams,
    llm_length_curriculum,
    llm_repetition_flags,
    win_funnel_attribution,
)
from un_datapipeline_spark.tables import load_table


def test_repetition_fracs_bounded_and_flag_consistent(spark, sf_smoke):
    rows = llm_repetition_flags(spark, sf_smoke).collect()
    d = load_table(spark, sf_smoke, "documents")
    assert len(rows) == d.count(), "one row per document"
    for r in rows:
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        assert 0.0 < r.top_word_frac <= 1.0
        assert r.flagged == int(r.dup_bigram_frac > 0.2 or r.top_word_frac > 0.2)


def test_boilerplate_shared_grams_consistent(spark, sf_smoke):
    rows = llm_boilerplate_ngrams(spark, sf_smoke).collect()
    assert rows, "near-dup docs in the fixture share 8-grams"
    for r in rows:
        assert 0 < r.n_bp <= r.n_grams
        assert abs(r.bp_frac - round(r.n_bp / r.n_grams, 6)) < 1e-9
    # sharing is symmetric: a shared gram involves >= 2 docs, so at least
    # two docs must report overlap
    assert len(rows) >= 2


def test_stratified_sample_exact_per_stratum(spark, sf_smoke):
    rows = etl_stratified_sample(spark, sf_smoke).collect()
    got = defaultdict(int)
    strata_n = {}
    for r in rows:
        got[(r.lang, r.source)] += 1
        strata_n[(r.lang, r.source)] = r.n_stratum
    d = load_table(spark, sf_smoke, "documents")
    truth = {
        (r.lang, r.source): r["count"]
        for r in d.groupBy("lang", "source").count().collect()
    }
    assert set(got) == set(truth), "every stratum must be represented"
    for k, n in truth.items():
        assert strata_n[k] == n
        assert got[k] == (n + 9) // 10, "exact ceil(10%) per stratum"


def test_domain_mixture_fracs_sum_to_one(spark, sf_smoke):
    rows = etl_domain_mixture(spark, sf_smoke).collect()
    assert abs(sum(r.actual_frac for r in rows) - 1.0) < 1e-3
    for r in rows:
        # weight * actual_frac == uniform target share (1/n_sources)
        assert abs(r.mix_weight * r.actual_frac - 1.0 / len(rows)) < 1e-4


def test_attribution_prior_event_and_gap_positive(spark, sf_smoke):
    rows = win_funnel_attribution(spark, sf_smoke).collect()
    e = load_table(spark, sf_smoke, "events")
    n_purchase = e.filter("event_type = 'purchase'").count()
    assert len(rows) == n_purchase, "every purchase gets a row"
    attributed = [r for r in rows if r.src_event_id is not None]
    assert attributed, "multi-event users exist"
    for r in attributed:
        assert r.src_type != "purchase"
        assert r.gap_us >= 0, "attributed touch precedes the purchase"


def test_curriculum_deciles_ordered_and_complete(spark, sf_smoke):
    rows = llm_length_curriculum(spark, sf_smoke).collect()
    by_lang = defaultdict(dict)
    for r in rows:
        by_lang[r.lang][r.decile] = r
    for lang, decs in by_lang.items():
        assert set(decs) == set(range(1, 11)), f"{lang}: all 10 deciles present"
        for i in range(1, 10):
            assert decs[i].max_chars <= decs[i + 1].min_chars or (
                # ties on n_chars may straddle a boundary
                decs[i].max_chars == decs[i + 1].min_chars
            )
            assert decs[i].max_chars <= decs[i + 1].max_chars


def test_empty_text_quality_and_bpe_do_not_crash(spark, tmp_path):
    """ADVICE r05 short-input class, round-6 sweep: llm_quality_score
    divided alpha_ratio by length(text) and llm_token_count_bpe divided
    chars-per-token by the BPE-ish token count — both DIVIDE_BY_ZERO
    under ANSI Spark on an empty document while DuckDB silently NULLs.
    Both now guard with greatest(..., 1) in BOTH engine texts (an empty
    doc contributes a clean 0.0); this corpus exists to hit the guard."""
    import duckdb
    import pandas as pd

    from un_datapipeline_spark.operators.text_analysis import (
        _QUALITY_ORACLE,
        _TOKENIZE_ORACLE,
        llm_quality_score,
        llm_token_count_bpe,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["", "??", "plain words here"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0, 2, 16],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    q = {r.lang: r for r in llm_quality_score(spark, sf).collect()}
    assert q["en"].n_docs == 3  # the empty doc executes, not just exists
    b = {r.lang: r for r in llm_token_count_bpe(spark, sf).collect()}
    assert b["en"].ws_tokens >= 3

    # the oracle texts run on the same corpus and agree on the guarded lanes
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    oq = con.execute(_QUALITY_ORACLE).df().iloc[0]
    assert float(oq["avg_alpha_ratio"]) == float(q["en"].avg_alpha_ratio)
    ob = con.execute(_TOKENIZE_ORACLE).df().iloc[0]
    assert float(ob["chars_per_token"]) == float(b["en"].chars_per_token)

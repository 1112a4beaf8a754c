"""Invariant tests for the training-prep operator batch (contamination,
fuzzy dedup, z-score anomalies, moment-based correlation, k-means,
sequence packing).  Oracle parity runs in test_oracle_parity; these assert the
semantic invariants no hash can express."""

from __future__ import annotations

from un_datapipeline_spark.operators.training_prep import (
    agg_corr_pearson,
    etl_pack_sequences,
    llm_contamination_check,
    llm_dedup_fuzzy_edit,
    llm_kmeans_cluster,
    ts_anomaly_zscore,
)
from un_datapipeline_spark.tables import load_table


def test_contamination_eval_docs_fully_flagged(spark, sf_smoke):
    rows = llm_contamination_check(spark, sf_smoke).collect()
    assert rows, "eval docs exist in the corpus, overlap cannot be empty"
    for r in rows:
        assert 0 < r.n_shared <= r.n_grams
        if r.is_eval:
            # an eval doc shares every one of its grams with the eval set
            assert r.n_shared == r.n_grams and r.contaminated_frac == 1.0


def test_fuzzy_edit_pairs_are_similar_and_canonical(spark, sf_smoke):
    rows = llm_dedup_fuzzy_edit(spark, sf_smoke).collect()
    assert rows, "prefix-blocked near-dups exist at every SF"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.8 <= r.sim <= 1.0
        assert r.edit_dist >= 0


def test_zscore_topk_ordered_and_anomalous(spark, sf_smoke):
    rows = ts_anomaly_zscore(spark, sf_smoke).collect()
    assert len(rows) == 50
    absz = [abs(r.z) for r in rows]
    assert absz == sorted(absz, reverse=True)
    assert absz[0] > 3.0, "heavy-tailed events must produce real anomalies"
    assert len({r.event_id for r in rows}) == 50


def test_corr_bounded_and_complete(spark, sf_smoke):
    rows = agg_corr_pearson(spark, sf_smoke).collect()
    flags = {r.l_returnflag for r in rows}
    assert flags == {"A", "N", "R"}
    for r in rows:
        assert -1.0 <= r.corr_qty_price <= 1.0
        assert r.n > 0


def test_kmeans_partitions_corpus_deterministically(spark, sf_smoke):
    a = sorted(map(tuple, llm_kmeans_cluster(spark, sf_smoke).collect()))
    b = sorted(map(tuple, llm_kmeans_cluster(spark, sf_smoke).collect()))
    assert a == b, "fixed init + fixed iterations must be deterministic"
    n_total = load_table(spark, sf_smoke, "embeddings").count()
    assert sum(r[1] for r in a) == n_total
    assert len(a) == 8
    assert all(r[2] >= 0 for r in a)


def test_pack_sequences_contiguous_token_stream(spark, sf_smoke):
    rows = sorted(
        etl_pack_sequences(spark, sf_smoke).collect(), key=lambda r: r.doc_id
    )
    n_total = load_table(spark, sf_smoke, "documents").count()
    assert len(rows) == n_total
    offset = 0
    for r in rows:
        assert r.tok_start == offset, "packing must be gap-free and ordered"
        assert r.seq_first == r.tok_start // 512
        assert r.seq_last == (r.tok_start + r.n_tokens - 1) // 512
        assert r.seq_first <= r.seq_last
        offset += r.n_tokens


def test_fuzzy_neighborhood_covers_every_honest_block():
    """Pin FUZZY_NEIGHBORHOOD=8 to the fixtures (VERDICT r11 item 4): the
    sorted-neighborhood window only finds every duplicate PAIR in a
    (lang, 32-char-prefix) block when the block has at most W+1 members
    — a corpus shipping an honest block of 10 would silently miss the
    rank-distance-9 pair on BOTH sides (parity holds, recall drops).
    This test measures the largest non-NULL-key block in every shipped
    scale factor AND every sweep corpus builder; if one grows past the
    window, FUZZY_NEIGHBORHOOD must be re-derived, not discovered via
    lost recall in production.  The --skew corpus is the deliberate
    exception: its hot template block is adversarial BY DESIGN and must
    instead stay LARGER than the window, or the skew sweep stops
    exercising the bounded-W contract at all."""
    import importlib.util as _ilu
    import tempfile
    from pathlib import Path

    import duckdb

    from un_datapipeline_spark.operators.training_prep import FUZZY_NEIGHBORHOOD

    def max_block(doc_path: str) -> int:
        got = duckdb.sql(
            "SELECT coalesce(max(n), 0) FROM ("
            "  SELECT count(*) AS n"
            f"  FROM read_parquet('{doc_path}')"
            "  WHERE lang IS NOT NULL AND text IS NOT NULL"
            "  GROUP BY lang, substr(text, 1, 32))"
        ).fetchone()[0]
        return int(got)

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        assert max_block(f"/root/testdata/{sf}/documents.parquet") <= (
            FUZZY_NEIGHBORHOOD + 1
        ), f"testdata/{sf} ships an honest block wider than the window"

    spec = _ilu.spec_from_file_location(
        "sweep_degenerate",
        Path(__file__).parent.parent / "tools" / "sweep_degenerate.py",
    )
    sw = _ilu.module_from_spec(spec)
    spec.loader.exec_module(sw)
    builders = sorted(n for n in dir(sw) if n.startswith("build_") and n.endswith("_dataset"))
    assert "build_skew_dataset" in builders
    checked = 0
    for name in builders:
        with tempfile.TemporaryDirectory() as d:
            getattr(sw, name)(d)
            doc = f"{d}/documents.parquet"
            if not Path(doc).exists():
                continue
            width = max_block(doc)
            if name == "build_skew_dataset":
                assert width > FUZZY_NEIGHBORHOOD + 1, (
                    "the skew corpus must keep a hot block WIDER than the "
                    "window — it pins the bounded-W recall contract"
                )
            else:
                assert width <= FUZZY_NEIGHBORHOOD + 1, (
                    f"{name} now ships an honest (lang, prefix) block of "
                    f"{width} docs — wider than FUZZY_NEIGHBORHOOD+1; "
                    "re-derive the window (training_prep.py) before "
                    "trusting fuzzy-dedup recall"
                )
            checked += 1
    assert checked >= 14, f"only {checked} corpus builders produced documents"

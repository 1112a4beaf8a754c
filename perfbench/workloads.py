"""The benchmark's workloads: named call lists over a generated corpus.

Each call goes through one public entry point of the engine:

* ``op``       -- a registry operator: ``op.fn(spark, dir)``, the executed
                  plan, then ``toPandas``; checked with
                  ``tests/strict_diff.strict_compare`` against its oracle;
* ``bench``    -- one of ``bench.QUERIES``: build, executed plan, then
                  ``collect``; checked against ``bench.DUCKDB_SQL``;
* ``pipeline`` -- ``Pipeline.source_table -> transform -> sink_parquet ->
                  run``; checked against a DuckDB row count;
* ``scan``     -- ``scale.parallelize_scan`` over one loaded table; checked
                  to hand back at least ``defaultParallelism`` partitions.

All workloads are a closed loop with one client in one process.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Call:
    name: str
    kind: str = "op"
    # Tables a sink call reads, and where it writes (``warehouse``: the
    # Spark warehouse dir, ``tmp``: new entries under the temp dir,
    # ``pipeline``: the pipeline sink dir); both feed stored_bytes_ratio.
    sources: tuple[str, ...] = ()
    sink: str | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    layout: str
    tables: tuple[str, ...]
    calls: tuple[Call, ...]
    # bench.py's local posture: AQE off, 4 MB splits, per-query reduce
    # widths (bench.REDUCE_WIDTH).  Other workloads keep the session
    # factory's defaults, the configuration a pipeline user gets.
    bench_posture: bool = False


BENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "topk_per_group_window",
    "running_sum_window",
    "rollup_agg",
    "events_tumbling_1h",
    "events_json_extract",
    "doc_text_tokens",
    "embeddings_cosine_topk",
    "dedup_exact",
    "asof_style_join",
)

# The pipeline call's filter, mirrored by its DuckDB row-count check.
PIPELINE_MIN_QUANTITY = 25
PIPELINE_COLUMNS = ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="warehouse",
            why="bench.py's 12 headline queries on one-task scans: job-floor bound, isolates plan build, "
                "Catalyst and dispatch; bypasses iteration, pairs and writes",
            layout="shipped",
            tables=("lineitem", "orders", "customer", "supplier", "nation", "region",
                    "events", "documents", "embeddings"),
            calls=tuple(Call(q, "bench") for q in BENCH_QUERIES),
            bench_posture=True,
        ),
        Workload(
            name="graph_iter",
            why="fixpoint loops with eager per-iteration checkpoints: job count and checkpoints dominate",
            layout="shipped",
            tables=("lineitem", "orders", "documents"),
            calls=(Call("graph_bfs_layers"), Call("graph_kcore"), Call("llm_dedup_cluster")),
        ),
        Workload(
            name="pair_topk",
            why="expand-all-pairs then top-k: shuffle volume, executor compute and the Arrow/pandas boundary, no iteration",
            layout="shipped",
            tables=("lineitem", "orders", "documents", "embeddings"),
            calls=(
                Call("graph_jaccard_neighbors"),
                Call("llm_dedup_ngram_jaccard"),
                Call("llm_simsearch_cosine_topk"),
                Call("llm_dedup_minhash_ml"),
            ),
        ),
        Workload(
            name="etl_wide",
            why="many-row-group files: multi-task scans, parallelize_scan's skip branch, AQE, XML compute "
                "and the only sink writes",
            layout="wide",
            tables=("lineitem", "orders", "customer"),
            calls=(
                Call("fn_xml_roundtrip"),
                Call("q1_pricing_summary", "bench"),
                Call("pipeline:lineitem", "pipeline", ("lineitem",), "pipeline"),
                Call("sink_bucketed_write", sources=("customer", "orders"), sink="warehouse"),
                Call("etl_compact_files", sources=("lineitem",), sink="tmp"),
                Call("scan:lineitem", "scan"),
                Call("scan:orders", "scan"),
            ),
        ),
    )
}

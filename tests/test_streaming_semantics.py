"""Watermark late-data semantics (SURVEY.md §5.2c) — not expressible as
a DuckDB oracle, so asserted directly with manufactured micro-batches.

Two-phase protocol against one checkpoint:
  run 1: on-time rows; watermark advances past window A, append mode
         emits A's final count.
  run 2 (same checkpoint, new file): one LATE row inside window A (far
         below the watermark) plus one fresh row advancing the watermark
         further.  The late row must be DROPPED: window A is never
         re-emitted/updated, and only the newly finalized window
         appears.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

# This test manufactures its own micro-batches with int64 epoch-ns ts
# (the round-1/2 physical layout) — the schema is local on purpose; the
# production stream reader now probes the footer for the actual layout.
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

US = 1_000_000  # µs per second
NS = 1_000_000_000
BASE = 1_700_000_000  # any whole-hour-ish epoch anchor (seconds)
HOUR = 3600


def _write_batch(spark, in_dir: str, name: str, ts_seconds: list[int]) -> None:
    rows = [
        (i, s * NS, 1, "click", 1.0, "{}") for i, s in enumerate(ts_seconds)
    ]
    df = spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
    df.coalesce(1).write.parquet(os.path.join(in_dir, name))


def _run(spark, in_dir: str, ckpt: str, sink: str) -> None:
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(in_dir, "*"))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("long").alias("win_start"), "n")
    )

    def sink_batch(bdf, bid):
        bdf.write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(sink_batch)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_watermark_drops_late_rows(spark, tmp_path):
    win_a = BASE - (BASE % HOUR)  # hour-aligned window containing BASE
    dirs = [tmp_path / d for d in ("in", "ckpt", "sink")]
    for d in dirs:
        d.mkdir()
    in_dir, ckpt, sink = map(str, dirs)

    # Run 1: 3 rows in window A, then one 2h later -> watermark passes A.
    _write_batch(spark, in_dir, "b1", [win_a + 10, win_a + 20, win_a + 30])
    _write_batch(spark, in_dir, "b2", [win_a + 2 * HOUR + 10])
    _run(spark, in_dir, ckpt, sink)
    emitted = {r.win_start: r.n for r in spark.read.parquet(sink).collect()}
    assert emitted.get(win_a) == 3, f"window A should finalize with 3, got {emitted}"

    # Run 2: one LATE row back inside window A + one fresh row 2h further.
    _write_batch(spark, in_dir, "b3", [win_a + 40, win_a + 4 * HOUR + 10])
    _run(spark, in_dir, ckpt, sink)
    rows = spark.read.parquet(sink).collect()
    counts_a = [r.n for r in rows if r.win_start == win_a]
    assert counts_a == [3], (
        f"late row must be dropped — window A re-emitted/updated: {rows}"
    )
    # The window holding the run-1 tail row is now finalized too.
    assert any(r.win_start == win_a + 2 * HOUR for r in rows)

"""Declarative ETL pipeline composition — the generic source →
transforms → sink surface of an ETL/pipeline engine (BASELINE.json:6
category), expressed so the ENTIRE pipeline stays one lazy Catalyst
plan: nothing materializes until the sink, so filters written as late
`transform` steps still push down into the source scan.

    result = (
        Pipeline(spark)
        .source_parquet(f"{sf}/lineitem.parquet")
        .transform(lambda df: df.filter(F.col("l_quantity") > 10))
        .transform(lambda df: df.groupBy("l_returnflag").count())
        .sink_parquet("/out/flag_counts", mode="overwrite")
        .run()
    )

`run()` returns a RunResult with row counts and the sink path;
`to_df()` skips the sink for composition into larger plans.  Stages are
plain (DataFrame → DataFrame) callables, so every operator in
`un_datapipeline_spark.operators` can be dropped in as a stage.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from un_datapipeline_spark.session import ensure_runtime_confs
from un_datapipeline_spark.tables import load_table, read_parquet

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class RunResult:
    rows: int
    sink: str | None
    seconds: float
    stages: list[str] = field(default_factory=list)


class Pipeline:
    """A lazy, linear ETL pipeline: one source, N transforms, ≤1 sink."""

    def __init__(self, spark: SparkSession, name: str = "pipeline"):
        self.spark = ensure_runtime_confs(spark)
        self.name = name
        self._df: DataFrame | None = None
        self._sink: Callable[[DataFrame], None] | None = None
        self._sink_desc: str | None = None
        self._stages: list[str] = []

    # -- sources ----------------------------------------------------------
    def source_df(self, df: DataFrame, desc: str = "dataframe") -> "Pipeline":
        self._df = df
        self._stages.append(f"source:{desc}")
        return self

    def source_parquet(self, path: str) -> "Pipeline":
        """Any parquet file or directory; the schema comes from its footer
        on the driver (tables.read_parquet), so opening launches no job."""
        return self.source_df(read_parquet(self.spark, path), f"parquet:{path}")

    def source_table(self, sf_dir: str, table: str) -> "Pipeline":
        """A testdata table through the canonical loader (ns-ts fix etc.)."""
        return self.source_df(load_table(self.spark, sf_dir, table), f"table:{table}")

    def source_csv(self, path: str, schema, header: bool = True) -> "Pipeline":
        df = self.spark.read.schema(schema).option("header", str(header).lower()).csv(path)
        return self.source_df(df, f"csv:{path}")

    def source_stream_events(self, sf_dir: str) -> "Pipeline":
        from un_datapipeline_spark.operators.streaming import read_events_stream

        return self.source_df(read_events_stream(self.spark, sf_dir), "stream:events")

    # -- transforms -------------------------------------------------------
    def transform(self, fn: Transform, desc: str | None = None) -> "Pipeline":
        if self._df is None:
            raise ValueError("transform() before a source")
        self._df = fn(self._df)
        self._stages.append(f"transform:{desc or getattr(fn, '__name__', 'fn')}")
        return self

    # -- sinks ------------------------------------------------------------
    def sink_parquet(
        self, path: str, mode: str = "error", partition_by: tuple[str, ...] = ()
    ) -> "Pipeline":
        def _write(df: DataFrame) -> None:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)

        self._sink, self._sink_desc = _write, f"parquet:{path}"
        return self

    def sink_csv(self, path: str, mode: str = "error") -> "Pipeline":
        def _write(df: DataFrame) -> None:
            df.write.mode(mode).option("header", "true").csv(path)

        self._sink, self._sink_desc = _write, f"csv:{path}"
        return self

    # -- execution --------------------------------------------------------
    def to_df(self) -> DataFrame:
        if self._df is None:
            raise ValueError("pipeline has no source")
        return self._df

    def run(self) -> RunResult:
        df = self.to_df()
        t0 = time.perf_counter()
        if self._sink is not None:
            # Piggyback the row count on the sink job via observe(): the
            # plan executes exactly once and the reported count is the
            # count of rows actually written, even if a stage is
            # non-deterministic.
            from pyspark.sql import Observation

            obs = Observation(f"{self.name}_rows")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            self._sink(observed)
            self._stages.append(f"sink:{self._sink_desc}")
            rows = int(obs.get["rows"])
        else:
            rows = df.count()
        return RunResult(
            rows=rows,
            sink=self._sink_desc,
            seconds=round(time.perf_counter() - t0, 4),
            stages=list(self._stages),
        )

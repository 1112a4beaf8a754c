"""Plan inspection: print any registered operator's physical plan.

    python -m un_datapipeline_spark.plans agg_pricing_summary [sf_dir]
    python -m un_datapipeline_spark.plans --all [sf_dir]   # plan summary table

Useful for auditing the scale properties tests assert
(tests/test_plan_shapes.py): pushed filters, broadcast vs shuffle
joins, codegen spans, Python-eval boundaries.
"""

from __future__ import annotations

import sys

_DEFAULT_SF = "/root/testdata/sf0.001"

_MARKERS = (
    "CartesianProduct",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Exchange",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "Window",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "Generate",
)


def plan_string(spark, name: str, sf_dir: str) -> str:
    from un_datapipeline_spark.registry import all_operators

    df = all_operators()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram, which
    ``CodeGenerator`` updates only on a class-cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def summarize(plan: str) -> str:
    found = [m for m in _MARKERS if m in plan]
    return ", ".join(found) if found else "(scan/project only)"


def main(argv: list[str]) -> None:
    from un_datapipeline_spark.registry import all_operators
    from un_datapipeline_spark.session import get_spark

    sf_dir = _DEFAULT_SF
    args = [a for a in argv if not a.startswith("--")]
    if len(args) > 1:
        sf_dir = args[1]
    spark = get_spark(app_name="plan-inspect")
    spark.sparkContext.setLogLevel("ERROR")
    if "--all" in argv:
        for name in sorted(all_operators()):
            try:
                print(f"{name}: {summarize(plan_string(spark, name, sf_dir))}")
            except Exception as ex:  # streaming ops can't be planned statically
                print(f"{name}: (not statically plannable: {type(ex).__name__})")
        return
    if not args:
        print(__doc__)
        return
    print(plan_string(spark, args[0], sf_dir))


if __name__ == "__main__":
    main(sys.argv[1:])

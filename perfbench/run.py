"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 7 --trace 0

Run from the repository root.  One run:

1. generates the seeded corpus (``perfbench/corpus.py``; timed on its
   own, not part of set-up);
2. sets up ``SETUPS`` times -- the first start launches the JVM, the
   others restart the SparkContext inside it -- each through
   ``session.get_spark``, ``tables.load_table`` of the workload's tables
   and a warm-up count per table;
3. runs one untimed warm pass over the workload's calls and checks every
   output against DuckDB;
4. runs timed passes until their call time reaches ``--seconds`` (at
   least ``MIN_PASSES``, four when traced), with each call's DuckDB oracle
   interleaved outside the call timer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of the traced passes
plus the tracing overhead.  The full record (self-description, per-call
medians, correctness problems, spans) goes to ``.perfbench/runs/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import PYTHON_NODES, SparkCounters, Tracer, merge, self_times  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    PIPELINE_COLUMNS,
    PIPELINE_MIN_QUANTITY,
    WORKLOADS,
    Call,
    Workload,
)

SETUPS = 3
# DuckDB executions per oracle call in a timed pass (one in the warm
# pass): repeated until they add up to DUCKDB_MIN_S, at most
# DUCKDB_MAX_REPS times.  A 10 ms oracle query varies by +-40% from one
# execution to the next, and its median feeds ratio_duckdb.
DUCKDB_MIN_S = 0.1
DUCKDB_MAX_REPS = 20
DRIVER_MEMORY = "2g"
# Persisted RDDs (checkpoint/persist residue of the operators) are
# unpersisted after every pass, outside timing, so each pass starts from
# the same storage state.
CLEAR_PERSISTED_BETWEEN_PASSES = True
# Full-GC rounds of the live-heap reading.
LIVE_HEAP_GC_ROUNDS = 5
# Timed passes of an untraced run, at the least.  The first timed pass is
# still ~15% slower than the next (JIT warm-up), so a run that stops after
# one pass and a run that stops after two report different things.  With
# two passes both kept workloads pass --seconds 7 on 4 cores.
MIN_PASSES = 2
# Stop starting passes after this long, so a run ends well inside 180 s.
MAX_RUN_S = 120.0

END_TO_END = ("setup_s", "pass_s", "op_geomean_s", "ratio_duckdb", "live_heap_mb")
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
                    "ratio_duckdb": "x", "live_heap_mb": "MB"}

# Per-pass layer metrics summed over calls; the others are derived.
SUMMED = (
    "session.persisted_rdds", "registry.build_s", "registry.build_jobs",
    "plans.optimize_s", "plans.exchanges", "plans.python_nodes", "result.collect_s",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.deserialize_s",
    "spark.gc_s", "spark.input_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
    "python.bytes_sent", "python.bytes_received", "python.rows_received",
    "scale.parallelize_scan_s", "pipeline.run_s", "pipeline.rows",
    "pipeline.bytes_written", "pipeline.files_written", "oracle.duckdb_s",
)
LAYERS = ("call", "registry", "plans", "result", "spark", "scale", "pipeline", "oracle")
PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.cold_setup_s", "s"),
    ("session.persisted_rdds", "count"), ("session.peak_rss_mb", "MB"),
    ("tables.load_table_s", "s"),
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("plans.optimize_s", "s"), ("plans.exchanges", "count"),
    ("plans.python_nodes", "count"), ("result.collect_s", "s"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.max_stage_tasks", "count"),
    ("spark.job_p50_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.deserialize_s", "s"), ("spark.gc_s", "s"),
    ("spark.busy_ratio", "ratio"), ("spark.input_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.shuffle_read_bytes", "B"),
    ("spark.spill_bytes", "B"), ("python.bytes_sent", "B"),
    ("python.bytes_received", "B"), ("python.rows_received", "count"),
    ("scale.parallelize_scan_s", "s"), ("pipeline.run_s", "s"),
    ("pipeline.rows", "count"), ("pipeline.bytes_written", "B"),
    ("pipeline.files_written", "count"), ("pipeline.stored_bytes_ratio", "ratio"),
    ("oracle.duckdb_s", "s"),
    *((f"{layer}.self_s", "s") for layer in LAYERS),
    ("trace.overhead_ratio", "ratio"), ("trace.collect_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cpus: int) -> dict[str, str]:
    """Pin the process environment before the JVM starts: the engine's
    env knobs at their defaults, every scratch path inside ``work``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        if key != "SPARK_GRAFT_SF_DIR":  # the source-corpus location
            del os.environ[key]
    # ``tmp`` receives only python-side temp dirs (the operators'
    # mkdtemp sinks); the JVM gets its own temp dir.
    paths = {d: os.path.join(work, d)
             for d in ("tmp", "jvmtmp", "local", "warehouse", "pipeline")}
    for d in paths.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # no perf-data file under the system temp dir
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={paths['jvmtmp']} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={paths['warehouse']}"),
        "pyspark-shell",
    ])
    return paths


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden/underscore files excluded."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


# bench.py's cosine kernel computes in float32; DuckDB in double.
REL_TOL = 1e-6


def _sort_key(row) -> tuple:
    return tuple(f"{v:.5g}" if isinstance(v, float) else repr(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _asof_tie_class(rows, con) -> list[tuple]:
    """asof_style_join rows with the matched order replaced by its
    (o_custkey, o_orderdate): orders of one customer on one date tie, and
    either engine may pick any of them."""
    keys = sorted({r[2] for r in rows if r[2] is not None})
    match = {}
    if keys:
        match = {
            k: (c, d)
            for k, c, d in con.execute(
                "SELECT o_orderkey, o_custkey, o_orderdate FROM orders "
                f"WHERE o_orderkey IN ({', '.join(map(str, keys))})"
            ).fetchall()
        }
    return [(r[0], r[1], match.get(r[2])) for r in rows]


def compare_bench(name: str, spark_rows, duck_rows, con) -> list[str]:
    """bench.py rows against its DuckDB text: the same rows, floats within
    ``REL_TOL`` (row order ignored; ORDER BY ties may permute).
    running_sum_window compares its key sequence only -- bench.py
    documents that its running sums are tie-order dependent -- and
    asof_style_join compares the matched order's tie class."""
    from tests.oracle_diff import canon_cell

    if name == "running_sum_window":
        a = [tuple(r)[:2] for r in spark_rows]
        b = [tuple(r)[:2] for r in duck_rows]
        return [] if a == b else [f"key sequence differs: {a[:3]} vs {b[:3]}"]
    if name == "asof_style_join":
        spark_rows = _asof_tie_class(spark_rows, con)
        duck_rows = _asof_tie_class(duck_rows, con)
    a = sorted((tuple(map(canon_cell, r)) for r in spark_rows), key=_sort_key)
    b = sorted((tuple(map(canon_cell, r)) for r in duck_rows), key=_sort_key)
    if len(a) != len(b):
        return [f"row counts: spark={len(a)} duckdb={len(b)}"]
    for x, y in zip(a, b):
        if len(x) != len(y) or not all(map(_close, x, y)):
            return [f"first differing row: spark={x} duckdb={y}"]
    return []


class Runner:
    """One workload's Spark session, its calls, and their checks."""

    def __init__(self, wl: Workload, corpus: dict, paths: dict, cpus: int):
        import bench
        from un_datapipeline_spark.registry import all_operators

        self.wl = wl
        self.corpus = corpus
        self.dir = corpus["dir"]
        self.paths = paths
        self.cpus = cpus
        self.ops = all_operators()
        self.bench = bench
        self.local_posture = wl.bench_posture and bench._use_local_posture(self.dir)
        if self.local_posture:
            bench._bench_width()  # the posture's shuffle width, before get_spark
        self.tmp_baseline = set(os.listdir(paths["tmp"]))
        self.rows_only: dict[str, int] = {}
        self.problems: dict[str, list[str]] = {}
        self.spark = None
        self.counters = None

    # -- set-up ---------------------------------------------------------
    def setup(self, tracer: Tracer) -> dict:
        """get_spark, load_table of each workload table, one warm-up count
        per table; returns the timing of each step."""
        from un_datapipeline_spark.session import get_spark
        from un_datapipeline_spark.tables import load_table

        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            if self.local_posture:  # bench.main's two local-posture confs
                spark.conf.set("spark.sql.adaptive.enabled", "false")
                spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        t1 = time.perf_counter()
        with tracer.span("tables.load_table"):
            dfs = [load_table(spark, self.dir, t) for t in self.wl.tables]
        t2 = time.perf_counter()
        with tracer.span("tables.warmup"):
            for df in dfs:
                df.count()
        t3 = time.perf_counter()
        self.spark = spark
        return {"get_spark_s": t1 - t0, "load_table_s": t2 - t1, "warmup_s": t3 - t2}

    def restart(self, tracer: Tracer) -> tuple[float, dict]:
        self.spark.stop()
        t0 = time.perf_counter()
        steps = self.setup(tracer)
        return time.perf_counter() - t0, steps

    # -- one call -------------------------------------------------------
    def execute(self, call: Call, cid: str, tracer: Tracer):
        """The timed part of one call: returns (seconds, result, plan)."""
        from un_datapipeline_spark.pipeline import Pipeline
        from un_datapipeline_spark.scale import parallelize_scan
        from un_datapipeline_spark.tables import load_table

        spark, sc = self.spark, self.spark.sparkContext
        plan = None
        t0 = time.perf_counter()
        with tracer.span("call", call=cid, op=call.name):
            if call.kind in ("op", "bench"):
                fn = self.ops[call.name].fn if call.kind == "op" else self.bench.QUERIES[call.name]
                with tracer.span("registry.build", group="build"):
                    sc.setJobGroup(f"{cid}/build", call.name)
                    df = fn(spark, self.dir)
                with tracer.span("plans.optimize", group="plan"):
                    sc.setJobGroup(f"{cid}/plan", call.name)
                    plan = df._jdf.queryExecution().executedPlan().toString()
                with tracer.span("result.collect", group="collect"):
                    sc.setJobGroup(f"{cid}/collect", call.name)
                    result = df.toPandas() if call.kind == "op" else df.collect()
            elif call.kind == "pipeline":
                with tracer.span("pipeline.run", group="run"):
                    sc.setJobGroup(f"{cid}/run", call.name)
                    result = (
                        Pipeline(spark, name="perfbench")
                        .source_table(self.dir, call.sources[0])
                        .transform(
                            lambda df: df.filter(df.l_quantity > PIPELINE_MIN_QUANTITY)
                            .select(*PIPELINE_COLUMNS),
                            "filter_project",
                        )
                        .sink_parquet(self.paths["pipeline"], mode="overwrite")
                        .run()
                    )
            else:  # scan
                with tracer.span("scale.parallelize_scan", group="scan"):
                    sc.setJobGroup(f"{cid}/scan", call.name)
                    result = parallelize_scan(load_table(spark, self.dir, call.name.split(":")[1]))
        dt = time.perf_counter() - t0
        sc.setJobGroup("perfbench/idle", "")
        return dt, result, plan

    def oracle(self, call: Call, con):
        """(SQL, fetch) of the call's DuckDB oracle, or None."""
        if call.kind == "op" and self.ops[call.name].oracle is not None:
            return self.ops[call.name].oracle, lambda cur: cur.df()
        if call.kind == "bench":
            return self.bench.DUCKDB_SQL[call.name], lambda cur: cur.fetchall()
        return None

    def check(self, call: Call, result, duck, con) -> list[str]:
        """Problems with one call's output (empty when correct)."""
        import pyarrow.parquet as pq

        from tests.strict_diff import canon, strict_compare

        if call.kind == "op":
            if duck is not None:
                return strict_compare(result, duck)
            canon(result)  # rows-only: the canonicalizer must accept it
            expected = self.rows_only.setdefault(call.name, len(result))
            if len(result) == 0 or len(result) != expected:
                return [f"rows-only row count {len(result)} (first pass {expected})"]
            return []
        if call.kind == "bench":
            return compare_bench(call.name, result, duck, con)
        if call.kind == "pipeline":
            (want,) = con.execute(
                f"SELECT count(*) FROM {call.sources[0]} "
                f"WHERE l_quantity > {PIPELINE_MIN_QUANTITY}"
            ).fetchone()
            written = sum(
                pq.ParquetFile(os.path.join(dp, n)).metadata.num_rows
                for dp, _, names in os.walk(self.paths["pipeline"])
                for n in names if n.endswith(".parquet")
            )
            if result.rows != want or written != want:
                return [f"pipeline rows={result.rows} written={written} duckdb={want}"]
            return []
        n = result.rdd.getNumPartitions()
        target = self.spark.sparkContext.defaultParallelism
        return [] if n >= target else [f"parallelize_scan gave {n} < {target} partitions"]

    # -- one pass -------------------------------------------------------
    def run_pass(self, idx: int, traced: bool, con, check: bool) -> dict:
        tracer = Tracer(traced)
        if traced:
            self.counters.mark()
        layer = {k: 0.0 for k in SUMMED}
        calls: dict[str, float] = {}
        duck_times: dict[str, list[float]] = {}
        per_call: dict[str, dict] = {}
        job_durations: list[float] = []
        max_tasks = 0
        sink_bytes = source_bytes = 0
        collect_s = 0.0
        failed = 0
        for i, call in enumerate(self.wl.calls):
            cid = f"p{idx}c{i}"
            if self.local_posture:
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", str(self.bench.REDUCE_WIDTH[call.name])
                )
            if call.sink == "pipeline":
                shutil.rmtree(self.paths["pipeline"], ignore_errors=True)
            tmp_before = set(os.listdir(self.paths["tmp"]))
            try:
                dt, result, plan = self.execute(call, cid, tracer)
            except Exception as exc:  # noqa: BLE001 -- a failed call is counted, the run goes on
                failed += 1
                self.problems.setdefault(call.name, []).append(f"{type(exc).__name__}: {exc}"[:500])
                continue
            calls[call.name] = dt
            if call.sink:
                if call.sink == "tmp":
                    fresh = set(os.listdir(self.paths["tmp"])) - tmp_before
                    written = sum(du(os.path.join(self.paths["tmp"], f))[0] for f in fresh)
                else:
                    written = du(self.paths[call.sink])[0]
                sink_bytes += written
                source_bytes += sum(self.corpus["bytes"][t] for t in call.sources)
            if call.kind == "pipeline":
                layer["pipeline.rows"] += result.rows
                b, f = du(self.paths["pipeline"])
                layer["pipeline.bytes_written"] += b
                layer["pipeline.files_written"] += f
            if plan is not None:
                layer["plans.exchanges"] += len(re.findall(r"Exchange\b", plan))
                layer["plans.python_nodes"] += sum(plan.count(n) for n in PYTHON_NODES)
            # Oracle, interleaved and timed outside the call timer.
            duck = None
            oracle = self.oracle(call, con)
            if oracle is not None:
                sql, fetch = oracle
                times: list[float] = []
                while True:
                    with tracer.span("oracle.duckdb", call=cid):
                        t0 = time.perf_counter()
                        duck = fetch(con.execute(sql))
                        times.append(time.perf_counter() - t0)
                    if check or len(times) >= DUCKDB_MAX_REPS or sum(times) >= DUCKDB_MIN_S:
                        break
                duck_times.setdefault(call.name, []).extend(times)
                layer["oracle.duckdb_s"] += stats.median(times)
            if check or (call.kind == "op" and oracle is None):
                try:
                    problems = self.check(call, result, duck, con)
                except Exception as exc:  # noqa: BLE001 -- reported as a mismatch
                    problems = [f"check raised {type(exc).__name__}: {exc}"[:500]]
                if problems:
                    failed += 1
                    self.problems.setdefault(call.name, []).extend(problems)
            if traced:
                t0 = time.perf_counter()
                c, mt, jd = self.read_counters(cid, tracer, layer)
                per_call[call.name] = c
                max_tasks = max(max_tasks, mt)
                job_durations += jd
                collect_s += time.perf_counter() - t0
        if CLEAR_PERSISTED_BETWEEN_PASSES:
            self.counters.clear_persisted()
        for f in set(os.listdir(self.paths["tmp"])) - self.tmp_baseline:
            shutil.rmtree(os.path.join(self.paths["tmp"], f), ignore_errors=True)
        out = {
            "index": idx,
            "traced": traced,
            "pass_s": sum(calls.values()),
            "calls": calls,
            "duckdb": duck_times,
            "attempted": len(self.wl.calls),
            "failed": failed,
            "stored_bytes_ratio": sink_bytes / source_bytes if source_bytes else 0.0,
        }
        if traced:
            for s in tracer.spans:
                if s.name in ("registry.build", "plans.optimize", "result.collect",
                              "pipeline.run", "scale.parallelize_scan"):
                    layer[f"{s.name}_s"] += s.end - s.start
            layer["spark.max_stage_tasks"] = max_tasks
            layer["spark.job_p50_s"] = stats.median(job_durations) or 0.0
            layer["spark.busy_ratio"] = (
                layer["spark.executor_run_s"] / (layer["spark.exec_s"] * self.cpus)
                if layer["spark.exec_s"] else 0.0
            )
            layer["pipeline.stored_bytes_ratio"] = out["stored_bytes_ratio"]
            st = self_times(tracer.spans)
            for name in LAYERS:
                layer[f"{name}.self_s"] = st.get(name, 0.0)
            layer["trace.collect_s"] = collect_s
            out["layers"] = layer
            out["per_call"] = per_call
            out["spans"] = tracer.dump()
        return out

    def read_counters(self, cid: str, tracer: Tracer, layer: dict):
        """Attach the call's Spark jobs to its phase spans and fold the
        call's counters into ``layer``."""
        self.counters.drain()
        per_call: dict[str, float] = {}
        max_tasks = 0
        durations: list[float] = []
        phases = [s for s in tracer.spans if s.call == cid and "group" in s.attrs]
        for span in phases:
            intervals, c = self.counters.jobs(f"{cid}/{span.attrs['group']}", span.start, span.end)
            clipped = [(max(s, span.start), min(e, span.end)) for s, e in intervals]
            for s, e in merge(clipped):
                tracer.add("spark.exec", s, e, span.id, cid)
                layer["spark.exec_s"] += e - s
                per_call["spark.exec_s"] = per_call.get("spark.exec_s", 0.0) + e - s
            durations += [e - s for s, e in intervals]
            if span.attrs["group"] == "build":
                layer["registry.build_jobs"] += c["spark.jobs"]
            span.attrs["counters"] = dict(c)
            max_tasks = max(max_tasks, c.pop("spark.max_stage_tasks"))
            for k, v in c.items():
                layer[k] += v
                per_call[k] = per_call.get(k, 0) + v
        py = self.counters.python_metrics()
        for k, v in py.items():
            layer[k] += v
            per_call[k] = v
        persisted = self.counters.persisted_rdds()
        layer["session.persisted_rdds"] += persisted
        per_call["session.persisted_rdds"] = persisted
        per_call["spark.max_stage_tasks"] = max_tasks
        root = next(s for s in tracer.spans if s.call == cid and s.name == "call")
        root.attrs["counters"] = per_call
        return per_call, max_tasks, durations


def jvm_live_heap_mb(spark) -> tuple[float, list[float]]:
    """Heap still in use after full GCs: what the run leaves resident.

    Spark's ContextCleaner frees broadcast blocks and shuffle state only
    after a GC has found their owners unreachable, so the reading is the
    smallest of ``LIVE_HEAP_GC_ROUNDS`` rounds of GC and a pause for the
    cleaner.  Python's collector runs first in each round, releasing py4j
    handles.  Returns the reading and every round's value."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    rounds: list[float] = []
    for _ in range(LIVE_HEAP_GC_ROUNDS):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
        rounds.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    return min(rounds), rounds


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def describe(runner: Runner, args, cpus: int) -> dict:
    import duckdb
    import pyspark

    spark = runner.spark
    conf = spark.conf
    return {
        "workload": args.workload,
        "why": runner.wl.why,
        "seed": args.seed,
        "layout": runner.wl.layout,
        "run_seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "max_partition_bytes": conf.get("spark.sql.files.maxPartitionBytes"),
        "bench_local_posture": runner.local_posture,
        # bench's posture sets the shuffle width per query (outside timing)
        "reduce_width": runner.bench.REDUCE_WIDTH if runner.local_posture else None,
        "driver_memory": DRIVER_MEMORY,
        "clear_persisted_between_passes": CLEAR_PERSISTED_BETWEEN_PASSES,
        "setups": SETUPS,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "corpus_bytes": runner.corpus["bytes"],
        "generate_s": runner.corpus["generate_s"],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    paths = configure_env(work, cpus)
    runner = None
    try:
        import bench

        from perfbench import corpus as corpus_mod
        from tests.oracle_diff import duck_connect

        corpus = corpus_mod.generate(
            bench.SF_DIR, os.path.join(work, "corpus"), args.seed, wl.layout
        )
        runner = Runner(wl, corpus, paths, cpus)
        setup_tracer = Tracer(True)
        steps = [runner.setup(setup_tracer)]
        setups = [time.perf_counter() - T_START - corpus["generate_s"]]
        for _ in range(SETUPS - 1):
            dt, st = runner.restart(setup_tracer)
            setups.append(dt)
            steps.append(st)
        runner.counters = SparkCounters(runner.spark)
        con = duck_connect(runner.dir)
        con.execute(f"SET threads TO {cpus}")
        t_setup = time.perf_counter() - T_START
        record = describe(runner, args, cpus)  # the session as set up

        warm = runner.run_pass(0, False, con, check=True)
        t_warm = time.perf_counter() - T_START
        # Passes run until the measured call time reaches --seconds; the
        # interleaved oracle runs and counter reads do not count.  A traced
        # run orders its passes untraced, traced, traced, untraced, so JVM
        # warm-up between passes does not bias the tracing overhead.
        passes = []
        measured = 0.0
        while True:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            passes.append(runner.run_pass(len(passes) + 1, traced, con, check=False))
            measured += passes[-1]["pass_s"]
            enough = len(passes) >= (4 if args.trace else MIN_PASSES)
            if enough and (measured >= args.seconds or time.perf_counter() - T_START > MAX_RUN_S):
                break
        t_passes = time.perf_counter() - T_START
        peak_rss = jvm_peak_rss_mb(runner.spark)
        live_heap, heap_rounds = jvm_live_heap_mb(runner.spark)
        con.close()

        untraced = [p for p in passes if not p["traced"]]
        call_names = [c.name for c in wl.calls]
        spark_med = {n: stats.median(p["calls"][n] for p in untraced if n in p["calls"])
                     for n in call_names}
        duck_med = {n: stats.median(t for p in untraced for t in p["duckdb"].get(n, ()))
                    for n in call_names}
        paired = [n for n in call_names if spark_med[n] is not None and duck_med[n] is not None]
        # parallelize_scan probes only plan; they are not operator calls.
        op_names = {c.name for c in wl.calls if c.kind != "scan"}
        samples = [t for p in untraced for n, t in p["calls"].items() if n in op_names]
        attempted = warm["attempted"] + sum(p["attempted"] for p in passes)
        failed = warm["failed"] + sum(p["failed"] for p in passes)
        end_to_end = {
            "setup_s": stats.median(setups),
            "pass_s": stats.median(p["pass_s"] for p in untraced),
            # every call counts equally; a pooled median of calls this
            # unequal is one call's time (sink_bucketed_write on etl_wide)
            "op_geomean_s": stats.geomean(
                spark_med[n] for n in call_names if n in op_names and spark_med[n] is not None
            ),
            # geometric mean of the per-call ratios: a sum of medians is
            # dominated by the call whose DuckDB time is largest and noisiest
            "ratio_duckdb": stats.geomean(spark_med[n] / duck_med[n] for n in paired),
            "live_heap_mb": live_heap,
        }
        timeline = {"setup_done_s": t_setup, "warm_done_s": t_warm, "passes_done_s": t_passes}
        record.update({
            "end_to_end": end_to_end,
            "fail_frac": failed / attempted,
            "op_p50_s": stats.median(samples),
            "op_samples": len(samples),
            "op_tail": stats.tail(samples),
            "setup_samples_s": setups,
            "setup_steps": steps,
            "spark_call_median_s": spark_med,
            "duckdb_call_median_s": duck_med,
            "passes": [{k: v for k, v in p.items() if k not in ("spans",)} for p in passes],
            "warm_pass_s": warm["pass_s"],
            "peak_rss_mb": peak_rss,
            "live_heap_rounds_mb": heap_rounds,
            "timeline": timeline,
            "problems": runner.problems,
        })
        if args.trace:
            traced = [p for p in passes if p["traced"]]
            layers = {
                name: stats.median(p["layers"][name] for p in traced)
                for name in traced[0]["layers"]
            }
            layers["session.get_spark_s"] = stats.median(s["get_spark_s"] for s in steps[1:])
            layers["session.cold_setup_s"] = setups[0]
            layers["session.peak_rss_mb"] = peak_rss
            layers["tables.load_table_s"] = stats.median(s["load_table_s"] for s in steps)
            layers["trace.overhead_ratio"] = (
                stats.median(p["pass_s"] for p in traced)
                / stats.median(p["pass_s"] for p in untraced) - 1.0
            )
            record["per_layer"] = layers
            spans = setup_tracer.dump() + [s for p in traced for s in p["spans"]]
            with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
                json.dump(spans, f)
            metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
        else:
            metrics = {name: {"value": end_to_end[name], "unit": END_TO_END_UNITS[name]}
                       for name in END_TO_END}
        out_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        print(f"record: {os.path.relpath(out_path, ROOT)}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if runner is not None and runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- escalate to kill below
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

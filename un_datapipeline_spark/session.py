"""SparkSession factory and runtime configuration.

Hard requirements (SURVEY.md §1.2, verified empirically):

1. ``events.ts`` physical layout has varied across testdata generations:
   parquet ``timestamp[ns]`` (rounds 1-2; needs
   ``spark.sql.legacy.parquet.nanosAsLong=true`` + integer ``ts div
   1000`` — float division mismatches ~12% of rows above 2^53) and
   parquet ``timestamp[us]`` (round 3+; arrives as TIMESTAMP_NTZ, cast
   to UTC TIMESTAMP).  ``tables._normalize_events_ts`` dispatches on the
   loaded dtype; the nanosAsLong conf stays set so the ns layout still
   loads if a future generation reverts.

2. Session timezone pinned UTC so epoch/date math matches the
   (naive-timestamp) DuckDB oracle regardless of machine timezone.

Scale posture: AQE on (coalesce + skew-join split at runtime), shuffle
partitions sized for the local test data
(``SPARK_GRAFT_SHUFFLE_PARTITIONS``) on a ``local`` master only — a
cluster launch keeps its launcher's width (Spark's 200 unless set) and
lets AQE coalesce.  Iterative operators run their loops inside
:class:`iteration_scope`, which pins its own width
(``SPARK_GRAFT_ITER_PARTITIONS``), and every materialization in the
package goes through :func:`graft_checkpoint` / :func:`ckpt`, the one
durability gate (``SPARK_GRAFT_CHECKPOINT_DIR``), whose ``scratch/``
subdir also holds operator scratch (:func:`scratch_dir`).
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import SparkSession

# The directory holding the package: Python workers import it from here.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNTIME_CONFS = {
    # events.ts is timestamp[ns]; read as long, convert with `ts div 1000`.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas_udf / applyInPandas / toPandas round-trips.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock <-> epoch math matching the (naive-timestamp)
    # DuckDB oracle regardless of machine timezone.
    "spark.sql.session.timeZone": "UTC",
}

# Preferences applied at session build only, NOT re-asserted by loaders.
# A runtime conf among them may be changed later on the session (bench.py
# turns AQE off at test scale, where stage re-optimization latency exceeds
# its benefit: measured 0.35s vs 0.58s per small query); a static one is
# fixed for the life of the session and can only be changed at launch.
FACTORY_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    # Static: CodeGenerator sizes its JVM-wide class cache from this once,
    # when the class is first used.  Spark's default of 100 is smaller
    # than a repeated query suite's working set: one pass of bench.py's 12
    # queries generates ~158 classes at sf0.1 and 142-153 at sf0.001.  An
    # LRU cache smaller than a cyclic working set never hits, so every
    # pass re-ran Janino on every class and started it over in the
    # interpreter, without its JIT-compiled code.  With 1000 a repeated
    # pass compiles none (tests/test_session_confs.py).  Cost: the
    # resident classes, +2.3% live heap after perfbench's warehouse run
    # (75.9 -> 77.7 MB).  A session the engine does not build keeps 100
    # unless launched with --conf spark.sql.codegen.cache.maxEntries=...
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Static: the Python worker daemon, one forked worker per UDF task.
    # Spark's own re-reads every zip archive on the worker path in each
    # task's setup (0.16-0.23 s per Arrow/pandas UDF task); this one
    # re-reads an archive only when it changed (worker_daemon.py,
    # tests/test_session_confs.py).  The workers must be able to import
    # the package, as for every UDF it ships.  A session the engine does
    # not build keeps pyspark.daemon.
    "spark.python.daemon.module": "un_datapipeline_spark.worker_daemon",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session.

    Idempotent and cheap; called by every table loader so the engine works
    against the driver's session (which we don't construct).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — matched on error class below
            # CANNOT_MODIFY_CONFIG: a conf may be non-runtime-settable in
            # some deployments; the session factory path sets it at build
            # time instead.  Matched on the structured error class first
            # (ADVICE r07 — survives reworded/localized messages), falling
            # back to the message substring because the same condition
            # surfaces as AnalysisException (classic, has getErrorClass),
            # a Py4J wrapper (JVM static conf; no error-class accessor),
            # or a SparkConnectGrpcException (Connect) depending on
            # deployment — a fixed exception-type match would crash every
            # table loader on the deployments it didn't anticipate
            # (ADVICE r06).  Anything else still surfaces.
            err_class = None
            for attr in ("getErrorClass", "getCondition"):
                getter = getattr(e, attr, None)
                if callable(getter):
                    try:
                        err_class = getter()
                    except Exception:  # noqa: BLE001 — accessor is best-effort
                        err_class = None
                    if err_class:
                        break
            if err_class == "CANNOT_MODIFY_CONFIG":
                continue
            msg = str(e)
            if "CANNOT_MODIFY_CONFIG" in msg or "Cannot modify the value" in msg:
                continue
            raise
    return spark


def graft_checkpoint(df, eager: bool = True, storage_level=None):
    """Materialize an intermediate: localCheckpoint by default,
    RELIABLE checkpoint when ``SPARK_GRAFT_CHECKPOINT_DIR`` is set.

    Round-13 (VERDICT r12 item 3/7): ``localCheckpoint`` blocks live on
    executors — at cluster scale an executor loss makes the truncated
    lineage NON-RECOMPUTABLE and kills the job (guide §5's caveat).
    For the iterative ops this is the standard latency trade and the
    right local default; a cluster run that cannot accept it sets
    ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path (HDFS/object
    store) and every materialization in the package (all of them are
    routed through here) switches to ``Dataset.checkpoint`` against it —
    same semantics, executor-loss-safe, one more write+read per
    materialization.  No behavior change while the env is unset
    (SCALING.md "Checkpoint durability posture").  A checkpoint dir the
    context already has is replaced unless it lies in the env dir, so
    the configured dir is never silently ignored.  ``storage_level``
    applies to the local path only: a reliable checkpoint always writes
    its data to the checkpoint dir and reads it back from there, so no
    storage level applies to it (Spark's ``Dataset.checkpoint`` takes
    none)."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        # setCheckpointDir(dir) writes into a fresh dir/<uuid> and reports
        # it fully qualified, so compare its parent to the qualified env dir
        fs, path = _hadoop_path(df.sparkSession, ckpt_dir)
        want = fs.makeQualified(path)
        if current is None or current.rstrip("/").rsplit("/", 1)[0] != want.toString():
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    if storage_level is not None:
        return df.localCheckpoint(eager=eager, storageLevel=storage_level)
    return df.localCheckpoint(eager=eager)


def ckpt(eager: bool = True, storage_level=None):
    """Chainable form of :func:`graft_checkpoint` for
    ``df.transform(ckpt(...))`` — drop-in for ``.localCheckpoint(...)``
    call sites so the durability gate applies without restructuring the
    expression chains."""

    def apply(df):
        return graft_checkpoint(df, eager=eager, storage_level=storage_level)

    return apply


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``: every Python-side file op on
    scratch goes through Hadoop, so a non-local root works too."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


_SCRATCH: dict[str, set[str]] = {}  # applicationId -> its scratch dirs


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh dir for operator scratch data, the one place it goes:
    under ``$SPARK_GRAFT_CHECKPOINT_DIR/scratch`` when set (a filesystem
    the driver and every executor see), else under
    ``tempfile.gettempdir()`` on the default filesystem (``fs.defaultFS``:
    the local disk in local mode, HDFS on an HDFS-default cluster), in
    one subdir per application.  Created on every call, never assumed to
    exist."""
    base = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    base = f"{base.rstrip('/')}/scratch" if base else tempfile.gettempdir()
    app_id = spark.sparkContext.applicationId
    if app_id not in _SCRATCH:
        atexit.register(release_scratch, spark)
    app = f"{base}/spark-graft-{app_id}"
    _SCRATCH.setdefault(app_id, set()).add(app)
    out = f"{app}/{prefix}{uuid.uuid4().hex[:12]}"
    fs, path = _hadoop_path(spark, out)
    fs.mkdirs(path)
    return out


def release_scratch(spark: SparkSession) -> None:
    """Remove this application's scratch dirs once the results reading
    them are consumed.  Idempotent; a no-op once the context is stopped
    (so the atexit hook never touches a dead JVM)."""
    sc = spark.sparkContext
    if sc._jsc is None:
        return
    for app in _SCRATCH.get(sc.applicationId, ()):
        fs, path = _hadoop_path(spark, app)
        fs.delete(path, True)


class conf_scope:
    """Set session confs for the body of a ``with`` block and restore
    them on exit — also when the body raises.  A key that was unset
    before is ``unset()`` again (so its engine default, not a copied
    value, comes back).  The one helper for every temporary conf in the
    package; plan-time confs must be consumed (action or eager
    :func:`ckpt`) inside the block."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self._spark, self._confs = spark, confs

    def __enter__(self):
        conf = self._spark.conf
        self._saved = {k: conf.get(k, None) for k in self._confs}
        for k, v in self._confs.items():
            conf.set(k, v)
        return self

    def __exit__(self, *exc) -> None:
        for k, v in self._saved.items():
            if v is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, v)


class iteration_scope(conf_scope):
    """The one scope every ITERATIVE operator's fixpoint loop runs in
    (graph pagerank / kcore / BFS / LPA / modularity and
    connected_components).  It does three things:

    * pins ``spark.sql.shuffle.partitions`` to
      ``SPARK_GRAFT_ITER_PARTITIONS`` (default 8) for the body, and
      restores the caller's width on exit — also when the body raises;
    * ``static(df)`` persists a relation the loop re-reads every round
      and unpersists it on exit;
    * ``freeze(df)`` materializes a result through :func:`ckpt` while the
      width is still pinned, so nothing the caller later acts on runs
      outside the pin or against an unpersisted static relation.

    Why a small width (guide §2.2 "fewer, larger reduce partitions"):
    the loops re-shuffle node-sized state every round; under a plain
    session that is 200 reduce partitions per stage — thousands of
    near-empty tasks per operator whose dispatch dominates the runtime at
    test scale (connected_components: 15 s → 3 s).  A cluster run sizes
    the width to the state table.  Value-safe wherever the loop state is
    exact (integer counts/min-labels/BFS sets) or the op is declared
    rows-only (float fixpoints like PageRank).  The loop itself stays a
    plain ``for``/``while`` in the operator, inside the ``with`` block.
    """

    def __init__(self, spark: SparkSession):
        width = os.environ.get("SPARK_GRAFT_ITER_PARTITIONS", "8")
        super().__init__(spark, {"spark.sql.shuffle.partitions": width})
        self._static: list = []

    def static(self, df):
        """Persist ``df`` for the scope's lifetime."""
        df = df.persist()
        self._static.append(df)
        return df

    def freeze(self, df):
        """Materialize ``df`` at the pinned width (:func:`ckpt`)."""
        return df.transform(ckpt())

    def __exit__(self, *exc) -> None:
        try:
            for df in self._static:
                df.unpersist()
        finally:
            super().__exit__(*exc)


def get_spark(app_name: str = "un-datapipeline-spark") -> SparkSession:
    """Build (or reuse) the canonical session for tests/bench/CLI runs.

    The launcher (spark-submit, ``PYSPARK_SUBMIT_ARGS``) owns the master
    and the shuffle width; this factory contributes confs.  It pins
    ``local[N]`` only when ``SPARK_GRAFT_CPUS`` names N (spark-submit
    defaults to ``local[*]``), and applies the test-scale width
    (``SPARK_GRAFT_SHUFFLE_PARTITIONS``, else 32) only on a ``local``
    master whose launcher set none.  Python workers get the package root
    on their ``PYTHONPATH``, so the worker daemon and every UDF import
    the package whatever directory the driver runs from.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    for k, v in {**RUNTIME_CONFS, **FACTORY_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    local = sc.master == "local" or sc.master.startswith("local[")
    # sc._conf is the context's live conf; getConf() copies it entry by
    # entry over py4j (13 ms, most of a warm get_spark call).
    if local and not sc._conf.contains("spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
        )
    return ensure_runtime_confs(spark)

"""SparkSession construction and normalization.

The engine targets a 1000-executor cluster reading ~100 TB; locally it
runs on ``local[N]``. Session defaults encode the scale posture:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to the local core count (the cluster profile
overrides this to ~2-3x total cores), Arrow enabled for the few
Pandas-UDF extension operators.

Codegen posture: every generated Java class is compiled once per JVM
and reused by every later query with the same code. Whole-stage code
generation compiles per plan shape, and the engine runs the same few
hundred shapes over and over (every registry key, every ``run_sync``
call), so compilation belongs to warm-up, not to each call. Two confs
make that hold. Spark's compiled-class cache keeps 100 classes by
default, far below the engine's working set, so warm calls evicted
and recompiled nearly everything; ``get_spark`` and ``cluster_conf``
size it to the working set (``CODEGEN_CACHE_ENTRIES``). And class
names carry AQE's codegen stage id by default
(``GeneratedIteratorForCodegenStage38``), so identical code planned
under another stage id missed the cache; ``_RUNTIME_CONFS`` drops the
id from the name. On a cluster each executor JVM holds its own cache.

``normalize_session`` is applied to *any* externally provided session
(e.g. the verification driver's) before running engine queries: it
pins the session timezone to UTC so naive-timestamp semantics are
deterministic, enables the legacy nanos-as-long parquet read that
the ``events`` table (timestamp[ns]) requires, and names generated
classes without stage ids.

``pin`` is the engine's one materialization policy: every operator that
reuses an intermediate frame cuts its lineage through it, so where and
how state is pinned is decided here, from the live session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Runtime confs every engine query depends on. Safe to set on a live
#: session (all are runtime-mutable SQL confs).
_RUNTIME_CONFS = {
    # Naive-timestamp determinism: parquet timestamps in the testdata
    # are NTZ; any cast to TIMESTAMP must mean UTC regardless of the
    # host's zone.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores timestamp[ns], which Spark's parquet reader
    # rejects; read the raw int64 and convert in the catalog loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing and skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the Pandas-UDF extension operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Predicate pushdown into Python data sources (the external
    # DuckDB-backed connector, sources/duckdb_source.py).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Giant-rows defense (eleventh poison class): Arrow batches are
    # row-count-bounded by default (10000), so a run of pathological
    # crawl pages (hundreds of kB each) would assemble a multi-GB
    # batch in every Pandas-UDF kernel; the Spark 4 byte bound splits
    # the stream regardless of row width. Ordinary corpora never hit
    # it (the row-count bound binds first), so plans and results are
    # unchanged off the poison path. r15 batch-size sweep (VERDICT r14
    # #4): 64m cost ~7-10% on the refresh composite vs no cap
    # (interleaved medians 6.10/5.70/5.51 s at 64m/256m/off, neutral
    # on the knn/sketch/decode kernel classes); 256m recovers most of
    # that while still bounding a 10 000×500 kB poison batch at 256 MB
    # instead of multi-GB. maxRecordsPerBatch=65536 was ALSO measured
    # and rejected (2.4× WORSE on knn-join-lsh — one giant batch per
    # task removes the JVM↔Python pipeline overlap).
    "spark.sql.execution.arrow.maxBytesPerBatch": "268435456",
    # Generated class names without AQE's codegen stage id, so the same
    # code compiled under another stage id hits the compiled-class cache
    # (see the module docstring).
    "spark.sql.codegen.useIdInClassName": "false",
}

#: Size of Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``,
#: a static conf: it takes effect only when the JVM's first session is
#: built). It holds the engine's working set of generated classes, so each
#: is compiled once per JVM. Measured on ``local[4]`` with stage-id-free
#: names and an unbounded cache: one pass over the 165-key registry at
#: sf0.1 compiles 1,399 distinct classes, one perfbench sync-run
#: iteration (four ``run_sync`` calls) about 125, most of them shared
#: with the registry. 2,000 holds both with about 30% headroom. Holding
#: the registry's classes costs heap: after a second registry pass at
#: sf0.001 the heap after a full GC read 259 MB, against 181 MB with
#: Spark's 100-entry default.
CODEGEN_CACHE_ENTRIES = 2000


#: process-local path of the executor-shipped package zip (see
#: _ship_package) — built lazily, at most once per interpreter.
_PKG_ZIP: str | None = None


def normalize_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Only runtime confs can be applied here. The compiled-class cache
    size is static, so an external session keeps the cache it was built
    with; it still gets stage-id-free class names, so repeated queries
    hit whatever cache it has."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; queries that depend on
            # it will fail loudly rather than silently mis-compute.
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of the
    driver's cwd: Pandas-UDF / mapInPandas closures deserialize by
    module reference on the Python workers, which share neither the
    driver's ``sys.path`` edits nor its working directory. Shipping a
    zip via ``addPyFile`` is the same mechanism a real cluster submit
    uses (``--py-files``), so local and 1000-executor behavior match.
    Zipped once per process, added once per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_reverse_etl_pkg_shipped", False):
        return
    import shutil
    import tempfile

    global _PKG_ZIP
    if _PKG_ZIP is None:
        # built exactly once per PROCESS, never reused across processes
        # (a pid-keyed cached file could be stale after code edits +
        # pid reuse); per-process uuid makes the path unique and fresh
        import uuid

        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_base = os.path.join(
            tempfile.gettempdir(),
            f"reverse_etl_homebrew_spark_pyfiles_{uuid.uuid4().hex}",
        )
        shutil.make_archive(
            zip_base, "zip", root_dir=pkg_root, base_dir="reverse_etl_homebrew_spark"
        )
        _PKG_ZIP = zip_base + ".zip"
    try:
        sc.addPyFile(_PKG_ZIP)
    except Exception:
        # e.g. a session that forbids adding files mid-flight; UDF-free
        # queries still work, UDF ones will raise ModuleNotFoundError
        pass
    sc._reverse_etl_pkg_shipped = True


def _pin_target(spark: SparkSession) -> tuple[str, str | None]:
    """The two facts ``pin`` decides on: the session's master and its
    reliable checkpoint directory (``setCheckpointDir`` or
    ``spark.checkpoint.dir``), None when unset."""
    sc = spark.sparkContext
    return sc.master, sc.getCheckpointDir()


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once and cut its lineage, for frames that
    several plan legs (or iterative rounds) read.

    On a local master (``local``, ``local[N]``) executor blocks live in
    the driver's JVM, so ``localCheckpoint`` is enough. On any other
    master the blocks die with their executor and cannot be recomputed,
    so the frame is reliably checkpointed into the session's checkpoint
    directory instead; both cut lineage, so plan shapes match."""
    master, checkpoint_dir = _pin_target(df.sparkSession)
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager=eager)
    if checkpoint_dir is None:
        raise ValueError(
            f"pin() on master {master!r} needs a reliable checkpoint dir: "
            "call spark.sparkContext.setCheckpointDir('<shared path>') or "
            "set spark.checkpoint.dir"
        )
    return df.checkpoint(eager=eager)


def cluster_conf(
    executors: int = 1000, cores_per_executor: int = 4
) -> dict:
    """Recommended submit-time conf profile for the 100 TB target
    (see SCALE.md). Returned as a dict for spark-submit --conf
    generation; the engine code itself is identical in both modes."""
    total_cores = executors * cores_per_executor
    return {
        **_RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # the giant-rows byte bound rides in from _RUNTIME_CONFS
        # (measured: tests/test_giant_rows.py::test_arrow_batches_byte_bounded)
        "spark.sql.parquet.compression.codec": "zstd",
        # checkpoint-file GC for pin()'s reliable checkpoints
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        # static: each executor JVM builds its own compiled-class cache
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }


def get_spark(app_name: str = "reverse-etl-homebrew-spark") -> SparkSession:
    """Build (or fetch) the engine session.

    Locally: one JVM, ``local[$SPARK_GRAFT_CPUS]`` threads. On a real
    cluster the same code runs unchanged — only master/memory confs
    differ, and those come from spark-submit, not from here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per local core: at sf0.1 each partition
        # stays well under executor memory; the cluster profile scales
        # this with total cores (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # pin() reliably checkpoints on a non-local master; let the
        # ContextCleaner delete checkpoint files once their RDDs are
        # GC'd so a long-running job doesn't accumulate them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return normalize_session(spark)

"""SparkSession construction and per-session normalization.

Designed for a multi-executor cluster (AQE, sane shuffle partitioning,
broadcast threshold); tested on local[N]. ``prepare_session`` applies only
runtime-settable confs so it is safe on a session we did not build (the
correctness driver hands us its own SparkSession).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must be set before the JVM starts.
_BUILD_TIME_CONFS = {
    # 32 shuffle partitions whatever the core count (SPARK_GRAFT_SHUFFLE
    # overrides); AQE coalesces them down to the data at runtime. On a
    # real cluster this would be ~2-3x total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Compiled whole-stage classes live in ONE JVM-wide LRU cache, sized
    # once when Spark's CodeGenerator starts (a static conf: conf.set
    # cannot change it later). Spark's 100 is below one pass of a
    # long-lived session: a perfbench kql_analytics pass needs 122
    # classes, llm_curation 106, q_kql_ipv6 alone 106, and LRU over a
    # repeating cycle evicts each class before its reuse, so every pass
    # recompiled nearly all of them with Janino (0.7-1.2 s a pass).
    # Building each of the 299 catalog entries once at sf0.01 compiles
    # 2,794 distinct classes (919 for bench.py's 85 headline entries);
    # 4096 is the next power of two. Metaspace after that catalog pass:
    # 215 MB at 4096, 194 MB at 100.
    "spark.sql.codegen.cache.maxEntries": "4096",
}

# Runtime-settable confs every entry point applies (ours or the driver's).
_RUNTIME_CONFS = {
    # Deterministic timestamp rendering across Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores timestamp[ns], which Spark's Parquet reader
    # rejects (PARQUET_TYPE_ILLEGAL). Reading nanos as raw int64 and
    # converting explicitly keeps the scan vectorized.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Tz-naive parquet timestamps (isAdjustedToUTC=false) otherwise infer as
    # TIMESTAMP_NTZ in Spark 4; read them as TimestampType in the UTC
    # session zone so epoch arithmetic (unix_millis & friends) applies and
    # semantics line up with the reference's UTC rendering.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    # Let AQE coalesce the shuffle output of persisted plans. Spark's
    # default (false) freezes a cached frame at spark.sql.shuffle.partitions,
    # so every stage reading it runs that many tasks however few rows it
    # holds (minhash_dedup_pairs' shingle sets and signatures, the KQL
    # fork/facet/materialize persists).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # untruncated PushedFilters/ReadSchema in plan strings, so plan
    # assertions (plans/explain.py) see the full metadata
    "spark.sql.maxMetadataStringLength": "10000",
    # Name each whole-stage class without its codegen stage id. AQE
    # numbers re-planned stages in the order they finish, so with the id
    # in the class name the same pipeline compiles its classes again
    # under new names (a cache miss in the codegen cache).
    "spark.sql.codegen.useIdInClassName": "false",
}


_PYFILES_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    pandas-UDF / mapInPandas closures reference module-level functions,
    which cloudpickle serializes BY REFERENCE — the worker then imports
    the module. A driver that launched Spark from elsewhere (different
    cwd, no PYTHONPATH) would fail with ModuleNotFoundError, so ship a
    zip of the package via addPyFile once per SparkContext. On a real
    cluster this is exactly how the job would be deployed (--py-files).
    """
    sc = spark.sparkContext
    # Key on applicationId, not id(sc): CPython reuses object ids after
    # GC, so an id()-keyed set could skip a brand-new context and leave
    # executors without the package (the exact bug this guards against).
    try:
        app_id = sc.applicationId
    except Exception:
        return
    if app_id in _PYFILES_SHIPPED:
        return
    try:
        import atexit
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="akpcs_pyfiles_")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        sc.addPyFile(zpath)
        _PYFILES_SHIPPED.add(app_id)
        atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
    except Exception:
        pass  # already importable everywhere, or a session we can't touch


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable normalization confs; idempotent.

    Marked on the session object after the first application: every
    KqlCompiler construction calls this, and the ~7 conf.set py4j
    round trips per compile were a measurable slice of every KQL
    query build (r15 cProfile; guide §7.3 driver-side cost). A
    session prepared once stays prepared — these confs are only ever
    set to these exact values by this engine.

    Build-time confs are not applied here. One matters for speed on a
    foreign session: Spark's codegen cache is JVM-wide and its size is
    static (read once, when the first session starts), so a session
    the engine did not build keeps Spark's 100 classes — below one
    pass of a long-lived driver's working set — unless whoever builds
    it sets ``spark.sql.codegen.cache.maxEntries`` (see
    _BUILD_TIME_CONFS)."""
    if getattr(spark, "_aks_prepared", False):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this session build; keep going
    _ship_package(spark)
    try:
        spark._aks_prepared = True
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "azure-kusto-parquet-conv-spark",
              master: str | None = None) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    Master resolution: explicit arg > $SPARK_GRAFT_CPUS > local[*].
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BUILD_TIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())

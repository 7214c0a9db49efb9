"""Session construction and preparation: the runtime confs reach
sessions the engine did not build, and the engine's sessions keep a
long-lived driver's compiled classes."""

from azure_kusto_parquet_conv_spark.session import (
    _BUILD_TIME_CONFS,
    _RUNTIME_CONFS,
    prepare_session,
)


def test_prepare_session_applies_runtime_confs_to_a_foreign_session(spark):
    """A session handed in from outside has none of the engine's runtime
    confs and no preparation marker; one prepare_session call sets them
    all, among them the switch that lets AQE coalesce persisted plans
    and the one that keeps stage ids out of generated class names."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        for k in _RUNTIME_CONFS:
            spark.conf.unset(k)
        spark._aks_prepared = False
        assert spark.conf.get(key) == "false"
        assert prepare_session(spark) is spark
        assert spark.conf.get(key) == "true"
        assert spark.conf.get("spark.sql.codegen.useIdInClassName") == \
            "false"
        assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == \
            _RUNTIME_CONFS
        assert spark._aks_prepared
    finally:
        spark._aks_prepared = False
        prepare_session(spark)


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (CodegenMetrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_cycle_of_query_shapes(spark):
    """A long-lived session cycles through more query shapes than
    Spark's default codegen cache (100 classes) holds. Each plan below
    compiles its own classes (the constants are spliced into the
    generated code); on the second pass over the same plans every
    class must come from the cache, with no Janino compilation."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == _BUILD_TIME_CONFS[key]

    def cycle() -> int:
        before = _compiles(spark)
        for k in range(64):
            rows = spark.range(4).selectExpr(
                f"id * {k + 2} + {k} AS x").collect()
            assert [r.x for r in rows] == [i * (k + 2) + k
                                           for i in range(4)]
        return _compiles(spark) - before

    assert cycle() > 100  # the cycle outgrows Spark's default cache
    assert cycle() == 0


def test_a_repeated_adaptive_query_compiles_no_class_again(spark, sf_dir):
    """AQE re-plans q_tfidf's stages and numbers them in the order they
    finish. With the stage id kept out of generated class names, a
    second run of the same query finds every class in the codegen
    cache; with it in the names, the re-planned stages compile again
    under new names."""
    from azure_kusto_parquet_conv_spark.queries import QUERIES

    def run() -> int:
        before = _compiles(spark)
        QUERIES["q_tfidf"](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        return _compiles(spark) - before

    run()
    assert run() == 0

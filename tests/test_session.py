"""Session preparation: the runtime confs reach sessions the engine did
not build."""

from azure_kusto_parquet_conv_spark.session import (
    _RUNTIME_CONFS,
    prepare_session,
)


def test_prepare_session_applies_runtime_confs_to_a_foreign_session(spark):
    """A session handed in from outside has none of the engine's runtime
    confs and no preparation marker; one prepare_session call sets them
    all, among them the switch that lets AQE coalesce persisted plans."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        for k in _RUNTIME_CONFS:
            spark.conf.unset(k)
        spark._aks_prepared = False
        assert spark.conf.get(key) == "false"
        assert prepare_session(spark) is spark
        assert spark.conf.get(key) == "true"
        assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == \
            _RUNTIME_CONFS
        assert spark._aks_prepared
    finally:
        spark._aks_prepared = False
        prepare_session(spark)

"""``set`` options are scoped to one compile on one thread.

Two threads compiling at once in one process must each see only their
own ``set percentile_mode`` / ``set query_bin_auto_size``: every plan
must equal the plan the same query compiles to on its own."""

from __future__ import annotations

import re
import sys
import threading

from azure_kusto_parquet_conv_spark.kql import kql

COMPILES = 15


def _plan(df) -> str:
    return re.sub(r"#\d+", "",
                  df._jdf.queryExecution().analyzed().toString())


def _race(spark, sf_dir, queries: list[str]) -> dict[str, list[str]]:
    """Compile each query COMPILES times on its own thread, all threads
    released together; returns each query's analyzed plans."""
    plans: dict[str, list[str]] = {q: [] for q in queries}
    errors: list[Exception] = []
    start = threading.Barrier(len(queries), timeout=120)

    def run(q):
        try:
            start.wait()
            for _ in range(COMPILES):
                plans[q].append(_plan(kql(spark, sf_dir, q)))
        except Exception as e:  # re-raised on the main thread
            errors.append(e)

    threads = [threading.Thread(target=run, args=(q,)) for q in queries]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads as often as can be
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    return plans


def _assert_each_plan_is_its_own(spark, sf_dir, queries):
    alone = {q: _plan(kql(spark, sf_dir, q)) for q in queries}
    assert len(set(alone.values())) == len(queries)
    for q, plans in _race(spark, sf_dir, queries).items():
        assert len(plans) == COMPILES
        wrong = sum(p != alone[q] for p in plans)
        assert wrong == 0, f"{wrong}/{COMPILES} plans of {q!r} differ"


def test_concurrent_percentile_modes_do_not_leak(spark, sf_dir):
    exact = "events | summarize p = percentile(value, 50) by event_type"
    approx = "set percentile_mode = approx;\n" + exact
    _assert_each_plan_is_its_own(spark, sf_dir, [exact, approx])
    assert "approx_percentile" not in _plan(kql(spark, sf_dir, exact))
    assert "approx_percentile" in _plan(kql(spark, sf_dir, approx))


def test_concurrent_bin_auto_sizes_do_not_leak(spark, sf_dir):
    def q(size):
        return (f"set query_bin_auto_size = {size};\n"
                "set query_bin_auto_minimum = datetime(2024-01-01);\n"
                "events | summarize n = count() by b = bin_auto(ts)")
    _assert_each_plan_is_its_own(spark, sf_dir, [q("1h"), q("1d")])

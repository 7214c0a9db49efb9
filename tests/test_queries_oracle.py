"""In-repo differential harness: runs every oracled catalog query on
Spark AND DuckDB at sf0.001 and compares row count, column names, and an
order-insensitive value multiset — a local replica of the driver's
correctness gate so breakage is caught before a round ends."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from azure_kusto_parquet_conv_spark.queries import (
    DRIVER_WINDOW, ORACLES, QUERIES,
)
from azure_kusto_parquet_conv_spark.sources.parquet import TABLES


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(v):
    """Driver-faithful cell canonicalization: the driver hashes pandas
    frames WITHOUT dtype coercion, so an integer-valued float64 (what
    pandas makes of DuckDB HUGEINT / nullable BIGINT) must NOT equal a
    true int64 — the type is part of the value. Round-1 lesson: the old
    lenient canon collapsed 1000.0 == 1000 and passed locally where the
    driver's hash failed."""
    import numpy as np

    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NaN"
        # FULL precision (r9 verdict #2): the driver hashes exact values,
        # so the replica must distinguish every distinct double — the old
        # %.6g canon collapsed 3176369.26 vs .27 and passed locally while
        # the driver red-flagged q9. repr() is the shortest repr that
        # round-trips, i.e. injective over doubles. Only -0.0 is still
        # collapsed (the +0.0 add), matching the catalog convention that
        # zero signs are sanitized via BIGINT casts before output.
        return f"f:{float(v) + 0.0!r}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if v is None or v is pd.NaT or v != v:
        return "NULL"
    return repr(v)


def multiset(pdf):
    # column-wise access (s.iloc[i]) keeps each column's dtype;
    # iterrows() upcasts MIXED rows to one dtype (int8 next to float64
    # becomes float64), silently defeating canon's dtype-strictness —
    # it masked an int8-vs-double and a -0.0 oracle divergence in r9
    out = {}
    series = [pdf[c] for c in sorted(pdf.columns)]
    for i in range(len(pdf)):
        key = "|".join(canon(s.iloc[i]) for s in series)
        out[key] = out.get(key, 0) + 1
    return out


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, sf_dir, ddb):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    scols = list(sdf.columns)
    odf = ddb.execute(ORACLES[name]).df()
    ocols = list(odf.columns)
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(sdf) == len(odf), (
        f"{name}: row count {len(sdf)} vs oracle {len(odf)}")
    sm, om = multiset(sdf), multiset(odf)
    if sm != om:
        only_s = [k for k in sm if sm[k] != om.get(k)][:5]
        only_o = [k for k in om if om[k] != sm.get(k)][:5]
        raise AssertionError(
            f"{name}: value multiset differs\n spark-only: {only_s}\n oracle-only: {only_o}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_unoracled_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_bench_headline_entries_exist():
    """Every bench.py headline name must be a real catalog entry —
    a rename that orphans the bench would otherwise only fail at
    driver-bench time."""
    import bench

    for name in bench.HEADLINE:
        assert name in QUERIES, name


def test_catalog_queries_stay_distributed():
    """No catalog query may materialize data on the driver: a .collect()
    / .toPandas() / .toLocalIterator() inside queries.py means the
    operator stops scaling past driver memory."""
    import os

    import azure_kusto_parquet_conv_spark.queries as qmod
    src = open(os.path.abspath(qmod.__file__)).read()
    for banned in (".collect()", ".toPandas()", ".toLocalIterator()"):
        assert banned not in src, banned


def test_catalog_every_entry_has_summary():
    from azure_kusto_parquet_conv_spark.queries import catalog

    assert all(r["summary"] for r in catalog()), [
        r["name"] for r in catalog() if not r["summary"]]


def test_queries_head_is_driver_window():
    """External tooling may sample the head of the catalog: QUERIES
    keeps DRIVER_WINDOW as its first 50 entries."""
    assert len(DRIVER_WINDOW) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW


ATOMIC = {"string", "long", "integer", "short", "byte", "double", "float",
          "boolean", "date", "timestamp", "timestamp_ntz", "binary",
          "decimal"}


def test_catalog_outputs_are_hashable(spark, sf_dir):
    """Every catalog entry must yield only atomic column types: the
    driver's canonicalizer row-sorts a pandas frame and crashes on
    array/map cells (round-2 q_convert_binary lesson). Schema-only —
    nothing executes."""
    bad = {}
    for name, fn in QUERIES.items():
        types = {f.name: f.dataType.typeName()
                 for f in fn(spark, sf_dir).schema.fields}
        nonatomic = {c: t for c, t in types.items() if t not in ATOMIC}
        if nonatomic:
            bad[name] = nonatomic
    assert not bad, bad

"""The KQL function registry (kql._FNS): every row checks its argument
count with its own usage text, every row is called somewhere in the
tests or the catalog, and the rows no other test calls give Kusto's
documented values."""

import ast
import json
import re
from pathlib import Path

import pytest

from azure_kusto_parquet_conv_spark.kql import _FNS, _h3_api, kql

_ROOT = Path(__file__).resolve().parent.parent


def _arity_cases():
    for name in sorted(_FNS):
        fn = _FNS[name]
        if fn.lo > 0:
            yield name, fn.lo - 1
        if fn.hi is not None:
            yield name, fn.hi + 1


@pytest.mark.parametrize("name,n", list(_arity_cases()))
def test_registry_arity_errors_name_the_kql_function(spark, sf_dir, name, n):
    """A call with one argument too few or too many is a ValueError
    whose text is the row's usage — never an IndexError, a silently
    dropped argument, or a Spark error naming the Spark function."""
    call = f"{name}({', '.join(['1'] * n)})"
    with pytest.raises(ValueError, match=rf"^KQL: {re.escape(name)}\("):
        kql(spark, sf_dir, f"print x = {call}")


def _string_constants() -> str:
    """Every string constant of the test files and the catalog: the KQL
    texts (Python calls such as round(x) are not KQL and do not count)."""
    texts = []
    for path in [*(_ROOT / "tests").glob("*.py"),
                 _ROOT / "azure_kusto_parquet_conv_spark" / "queries.py"]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value,
                                                             str):
                texts.append(node.value)
    return "\n".join(texts)


def test_every_registry_row_is_called():
    """Each _FNS name is called by some KQL text under tests/ or in the
    catalog, so no row is dead or untested."""
    blob = _string_constants()
    uncalled = [name for name in sorted(_FNS)
                if not re.search(rf"(?<![\w.$]){name}\s*\(", blob)]
    assert uncalled == []


_SERIES = "dynamic([1, 2, 3, 4, 1, 2, 3, 4, 1, 2, 3, 4])"
_POLY = ('{"type":"Polygon","coordinates":[[[10,10],[11,10],[11,11],'
         '[10,11],[10,10]]]}')
_RING = ('{"type":"LineString","coordinates":[[10,10],[11,10],[11,11],'
         '[10,11],[10,10]]}')


@pytest.mark.parametrize("query,expected", [
    # scalars (values from Kusto's function reference)
    ("print v = acos(1)", 0.0),
    ("print v = atan(1)", 0.7853981633974483),
    ("print v = tan(1)", 1.5574077246549023),
    ("print v = cot(1)", 0.6420926159343306),
    ("print v = toupper('abc')", "ABC"),
    ("print v = todecimal('1.5') == 1.5", True),
    ("print v = replace_regex('abcbb', 'b+', 'x')", "axcx"),
    ("print v = iif(1 > 0, 'y', 'n')", "y"),
    ("print v = min_of(3, 1, 2)", 1),
    ("print v = int(5)", 5),
    # now(offset) is the query's current time plus the offset
    ("print v = now(1h) - now() == 1h", True),
    ("print v = now(-1d) - now() == -1d", True),
    ("print v = isnull(guid(null))", True),
    ("print v = convert_force(1, 'Kilonewton', 'Newton')", 1000.0),
    ("print v = convert_power(1, 'Kilowatt', 'Watt')", 1000.0),
    ("print v = convert_volume(1, 'CubicMeter', 'Liter')", 1000.0),
    # binary
    ("print v = binary_and(6, 3)", 2),
    ("print v = binary_or(6, 3)", 7),
    ("print v = binary_xor(6, 3)", 5),
    ("print v = binary_not(5)", -6),
    ("print v = binary_shift_right(16, 2)", 4),
    # datetime parts
    ("print v = dayofmonth(datetime(2015-12-14))", 14),
    ("print v = dayofyear(datetime(2015-12-14))", 348),
    ("print v = getmonth(datetime(2015-10-12))", 10),
    ("print v = hourofday(datetime(2015-12-14 18:54))", 18),
    ("print v = monthofyear(datetime(2015-12-14))", 12),
    ("print v = week_of_year(datetime(2015-12-14))", 51),
    # aggregates
    ("datatable(x:long) [1, 2, 3] | summarize v = avgif(x, x > 1)", 2.5),
    ("datatable(x:long) [1, 2, 3] | summarize v = minif(x, x > 1)", 2),
    ("datatable(x:long) [1, 2, 3] | summarize v = maxif(x, x < 3)", 2),
    ("datatable(x:long) [1, 2, 3, 4] | summarize v = stdev(x)",
     1.2909944487358056),
    ("datatable(x:long) [1, 2, 3, 4] | summarize v = variance(x)",
     1.6666666666666667),
    ("datatable(x:long, y:long) [1, 2, 2, 4, 3, 6, 4, 8]"
     " | summarize v = covariance(x, y)", 3.3333333333333335),
    ("datatable(x:long, w:long) [1, 1, 2, 1, 3, 2]"
     " | summarize v = percentilesw_array(x, w, 50, 100)", [2.0, 3.0]),
    # fft of a constant series is its sum at frequency 0, and back
    ("print v = tostring(series_fft_dynamic(dynamic([1, 1, 1, 1])))",
     '{"imag":[0,0,0,0],"real":[4,0,0,0]}'),
    ("print v = tostring(series_ifft_dynamic(dynamic([4, 0, 0, 0])))",
     '{"imag":[0,0,0,0],"real":[1,1,1,1]}'),
    ("print v = todouble(series_fit_poly_dynamic(dynamic([1, 3, 5, 7]),"
     " dynamic([0, 1, 2, 3]), 1).rsquare)", 1.0),
])
def test_registry_rows_give_kusto_values(spark, sf_dir, query, expected):
    v = kql(spark, sf_dir, query).collect()[0]["v"]
    assert v == expected


@pytest.mark.parametrize("inner,public", [
    (f"series_decompose_dynamic({_SERIES}, 4)",
     f"series_decompose({_SERIES}, 4)"),
    (f"series_decompose_anomalies_dynamic({_SERIES}, 1.5, 4)",
     f"series_decompose_anomalies({_SERIES}, 1.5, 4)"),
    ("series_periods_validate_dynamic(dynamic([1, 2, 1, 2, 1, 2]), 2)",
     "series_periods_validate(dynamic([1, 2, 1, 2, 1, 2]), 2)"),
    # a polygon densifies its ring as the ring's line would
    (f"geo_polygon_densify(dynamic({_POLY})).coordinates[0]",
     f"geo_line_densify(dynamic({_RING})).coordinates"),
])
def test_registry_forms_match_their_public_twin(spark, sf_dir, inner,
                                                public):
    r = kql(spark, sf_dir, f"print a = tostring({inner}),"
                           f" b = tostring({public})").collect()[0]
    assert r["a"] == r["b"] and r["a"] not in (None, "", "null")


@pytest.mark.parametrize("call,check", [
    ("geo_h3cell_children('862a1072fffffff')",
     lambda v: len(json.loads(v)) == 7),
    ("geo_h3cell_rings('862a1072fffffff', 1)",
     lambda v: [len(r) for r in json.loads(v)] == [1, 6]),
    ("geo_h3cell_to_central_point('862a1072fffffff')",
     lambda v: json.loads(v)["type"] == "Point"),
    ("geo_h3cell_to_polygon('862a1072fffffff')",
     lambda v: json.loads(v)["type"] == "Polygon"),
])
def test_registry_h3_rows(spark, sf_dir, call, check):
    """The h3 rows delegate to the optional `h3` package: without it
    each is the loud compile-time error, with it a level-6 cell has 7
    children, its ring 1 holds 6 cells, and the shapes are GeoJSON."""
    query = f"print v = tostring({call})"
    if _h3_api() is None:
        with pytest.raises(ValueError, match="requires the optional 'h3'"):
            kql(spark, sf_dir, query)
        return
    assert check(kql(spark, sf_dir, query).collect()[0]["v"])

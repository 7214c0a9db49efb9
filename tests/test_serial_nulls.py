"""Serialized order carries into the scan and row_window_session kernels.

``sort by ts asc nulls last`` / ``desc nulls first`` must reach the
kernels' own shuffle+sort with the nulls placement the user asked for,
both unscoped and inside ``partition by user_id (...)``. Each result is
checked against a DuckDB twin that walks the same order with window
functions, over input whose ``ts`` column holds nulls (so a wrong nulls
placement changes the answer)."""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from azure_kusto_parquet_conv_spark.kql import kql

BASE = dt.datetime(2024, 1, 1)


def _rows():
    """(user_id, id, ts | None, x, t2): distinct non-null ts, about a
    quarter of ts null; t2 is never null and within 3 hours, so a
    session's 1d cap never binds and only the 5m gap rule splits."""
    rnd = random.Random(7)
    minutes = rnd.sample(range(600), 48)
    rows = []
    for i in range(48):
        ts = None if rnd.random() < 0.25 else \
            BASE + dt.timedelta(minutes=minutes[i])
        rows.append((i % 3, i, ts, rnd.randrange(1, 1000),
                     BASE + dt.timedelta(minutes=rnd.randrange(180))))
    return rows


ROWS = _rows()


def _datatable() -> str:
    def cell(t):
        return "" if t is None else t.strftime("%Y-%m-%d %H:%M:%S")
    cells = ",\n".join(f"{u}, {i}, '{cell(ts)}', {x}, '{cell(t2)}'"
                       for u, i, ts, x, t2 in ROWS)
    return f"""
      datatable (user_id:long, id:long, raw:string, x:long,
                 t2raw:string) [{cells}]
      | extend ts = todatetime(raw), t2 = todatetime(t2raw)
      | project-away raw, t2raw
    """


def _duckdb(sql: str) -> dict:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (user_id BIGINT, id BIGINT, ts TIMESTAMP,"
                " x BIGINT, t2 TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", ROWS)
    return dict(con.execute(sql).fetchall())


SCAN = ("scan declare (c:long = 0) "
        "with (step s: true => c = c + x;)")
SESSION = "extend s = row_window_session(t2, 1d, 5m)"


def _kql(spark, sf_dir, sort: str, scoped: bool, kernel: str,
         between: str = "") -> dict:
    body = f"sort by {sort} | {between}{kernel}"
    pipe = f"partition by user_id ({body})" if scoped else body
    out = ("project id, c" if kernel == SCAN else
           "project id, c = datetime_diff('second', s, "
           "datetime(2024-01-01))")
    rows = kql(spark, sf_dir,
               f"{_datatable()} | {pipe} | {out}").collect()
    return {r["id"]: r["c"] for r in rows}


def _twin(order: str, scoped: bool, kernel: str) -> dict:
    g = "user_id" if scoped else "1"
    if kernel == SCAN:
        # every row matches the one step, so c is the running sum of x
        # in serialized order
        return _duckdb(f"""
          SELECT id, SUM(x) OVER (PARTITION BY {g} ORDER BY {order}
                                  ROWS UNBOUNDED PRECEDING)
          FROM t""")
    # gaps-and-islands: a session starts at the group's first row or
    # after a gap above 5 minutes from the previous row's t2
    return _duckdb(f"""
      WITH o AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY {order})
                  AS rn FROM t),
      b AS (
        SELECT *, CASE WHEN LAG(t2) OVER w IS NULL
                         OR epoch(t2) - epoch(LAG(t2) OVER w) > 300
                       THEN 1 ELSE 0 END AS brk
        FROM o WINDOW w AS (PARTITION BY {g} ORDER BY rn)),
      s AS (
        SELECT *, SUM(brk) OVER (PARTITION BY {g} ORDER BY rn
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM b)
      SELECT id, CAST(epoch(FIRST_VALUE(t2) OVER (
                   PARTITION BY {g}, sid ORDER BY rn))
                 - epoch(TIMESTAMP '2024-01-01') AS BIGINT)
      FROM s""")


@pytest.mark.parametrize("kernel", [SCAN, SESSION],
                         ids=["scan", "row_window_session"])
@pytest.mark.parametrize("scoped", [False, True],
                         ids=["unscoped", "partition_by"])
@pytest.mark.parametrize("sort,order", [
    ("ts asc nulls last, id asc", "ts ASC NULLS LAST, id ASC"),
    ("ts desc nulls first, id asc", "ts DESC NULLS FIRST, id ASC"),
], ids=["asc_nulls_last", "desc_nulls_first"])
def test_nulls_placement_reaches_kernel(spark, sf_dir, sort, order,
                                        scoped, kernel):
    want = _twin(order, scoped, kernel)
    assert len(want) == len(ROWS)
    assert _kql(spark, sf_dir, sort, scoped, kernel) == want


@pytest.mark.parametrize("kernel", [SCAN, SESSION],
                         ids=["scan", "row_window_session"])
def test_scoped_kernel_keeps_order_when_extend_redefines_key(
        spark, sf_dir, kernel):
    """An extend that redefines an order column between the scoped
    ``sort by`` and the kernel does not re-sort: the rows keep the
    serialized order the sort fixed (ts - x minutes would reorder
    them)."""
    got = _kql(spark, sf_dir, "ts asc, id asc", True, kernel,
               between="extend ts = datetime_add('minute', 0 - toint(x), "
                       "ts) | ")
    assert got == _twin("ts ASC NULLS FIRST, id ASC", True, kernel)
    assert got != _twin("ts - x * INTERVAL 1 MINUTE ASC NULLS FIRST, "
                        "id ASC", True, kernel)


# Serialized functions are expressions: each idiom's serialized call
# sits inside a larger expression, a `project` or a `where` — none of
# them is the whole right-hand side of an extend. (KQL tail, DuckDB
# twin); the twin's {w} is the serialized window, {g} the partition.
ORDER = "ORDER BY ts ASC NULLS LAST, id ASC"
RESTART_RUN = """
  WITH f AS (SELECT *, CASE WHEN {flag} THEN 1 ELSE 0 END AS brk FROM t),
  r AS (SELECT *, SUM(brk) OVER ({w} ROWS UNBOUNDED PRECEDING) AS run
        FROM f)"""
IDIOMS = {
    "row_number_minus_1": (
        "extend v = row_number() - 1",
        "SELECT id, ROW_NUMBER() OVER ({w}) - 1 FROM t"),
    "iff_row_number": (
        "extend v = iff(row_number() == 1, x, 0)",
        "SELECT id, CASE WHEN ROW_NUMBER() OVER ({w}) = 1 THEN x ELSE 0 "
        "END FROM t"),
    "project_row_number": (
        "project id, v = row_number()",
        "SELECT id, ROW_NUMBER() OVER ({w}) FROM t"),
    "where_row_number": (
        "where row_number() <= 2 | extend v = x",
        "SELECT id, x FROM t QUALIFY ROW_NUMBER() OVER ({w}) <= 2"),
    "row_cumsum_times_2": (
        "extend v = row_cumsum(x) * 2",
        "SELECT id, SUM(x) OVER ({w} ROWS UNBOUNDED PRECEDING) * 2 FROM t"),
    "row_rank_dense_plus_0": (
        "extend v = row_rank_dense(x % 3) + 0",
        """WITH c AS (
             SELECT *, CASE WHEN ROW_NUMBER() OVER ({w}) > 1
                             AND LAG(x % 3) OVER ({w})
                                 IS NOT DISTINCT FROM x % 3
                            THEN 0 ELSE 1 END AS chg FROM t)
           SELECT id, SUM(chg) OVER ({w} ROWS UNBOUNDED PRECEDING)
           FROM c"""),
    "project_prev": (
        "project id, v = prev(x)",
        "SELECT id, LAG(x) OVER ({w}) FROM t"),
    "where_minus_prev": (
        "where x - prev(x) > 0 | extend v = x",
        "SELECT id, x FROM t QUALIFY x - LAG(x) OVER ({w}) > 0"),
    "row_number_restart_minus_1": (
        "extend v = row_number(1, x % 3 != prev(x % 3)) - 1",
        RESTART_RUN.replace("{flag}", "x % 3 != LAG(x % 3) OVER ({w})")
        + " SELECT id, ROW_NUMBER() OVER (PARTITION BY {g}, run {o}) - 1"
          " FROM r"),
    "row_cumsum_restart_times_2": (
        "extend v = row_cumsum(x, x % 3 == 0) * 2",
        RESTART_RUN.replace("{flag}", "x % 3 = 0")
        + " SELECT id, SUM(x) OVER (PARTITION BY {g}, run {o}"
          " ROWS UNBOUNDED PRECEDING) * 2 FROM r"),
    # serialized calls inside the bin family
    "bin_prev": (
        "extend v = bin(prev(x), 10)",
        "SELECT id, FLOOR(LAG(x) OVER ({w}) / 10) * 10 FROM t"),
    "bin_prev_timespan": (
        "extend v = bin(prev(ts), 1h)",
        "SELECT id, time_bucket(INTERVAL 1 HOUR, LAG(ts) OVER ({w}))"
        " FROM t"),
    "bin_at_prev": (
        "extend v = bin_at(prev(x), 10, 3)",
        "SELECT id, LAG(x) OVER ({w})"
        " - ((LAG(x) OVER ({w}) - 3) % 10 + 10) % 10 FROM t"),
    "where_bin_minus_prev": (
        "where bin(x - prev(x), 100) == 100 | extend v = x",
        "SELECT id, x FROM t"
        " QUALIFY FLOOR((x - LAG(x) OVER ({w})) / 100) * 100 = 100"),
}


@pytest.mark.parametrize("scoped", [False, True],
                         ids=["unscoped", "partition_by"])
@pytest.mark.parametrize("idiom", list(IDIOMS))
def test_serialized_call_in_expression(spark, sf_dir, idiom, scoped):
    """Each idiom matches its DuckDB window twin; unscoped, every one
    still warns about the single-partition global sort."""
    import warnings
    tail, twin = IDIOMS[idiom]
    g = "user_id" if scoped else "1"
    want = _duckdb(twin.format(w=f"PARTITION BY {g} {ORDER}", g=g,
                               o=ORDER))
    body = f"sort by ts asc nulls last, id asc | {tail}"
    pipe = f"partition by user_id ({body})" if scoped else body
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        rows = kql(spark, sf_dir,
                   f"{_datatable()} | {pipe} | project id, v").collect()
    assert {r["id"]: r["v"] for r in rows} == want
    assert any("single-partition" in str(w.message)
               for w in rec) == (not scoped)


def test_where_serialized_call_leaves_schema(spark, sf_dir):
    """A where that renders a window filters through a helper column;
    the helper does not reach the output."""
    df = kql(spark, sf_dir, f"{_datatable()} | sort by id asc "
                            "| where x > prev(x)")
    assert df.columns == ["user_id", "id", "x", "ts", "t2"]


def test_row_window_session_outside_extend_is_a_clean_error(spark,
                                                            sf_dir):
    with pytest.raises(ValueError, match="row_window_session"):
        kql(spark, sf_dir, f"{_datatable()} | sort by id asc "
                           "| where row_window_session(t2, 1d, 5m) > t2")

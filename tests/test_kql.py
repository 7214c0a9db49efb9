"""KQL DSL: expression-parser units, compiler equivalences against
hand-built DataFrames, plan shape, and error handling."""

import pytest
from pyspark.sql import functions as F

from azure_kusto_parquet_conv_spark.kql import (
    KqlCompiler,
    _parse_expr,
    _tokenize,
    kql,
)
from azure_kusto_parquet_conv_spark.sources.parquet import load_table


# ---------------------------------------------------------------- parser

@pytest.mark.parametrize("src,expected", [
    ("a == 1", "(`a` = 1)"),
    ("a != 'x'", "(`a` <> 'x')"),
    ("a > 1 and b < 2 or not c", "(((`a` > 1) AND (`b` < 2)) OR (NOT `c`))"),
    ("strlen(s) + 1", "(length(`s`) + 1)"),
    ("substring(s, 0, 3)", "substr(`s`, (0) + 1, 3)"),
    ("iff(x > 0, 'p', 'n')", "(CASE WHEN (`x` > 0) THEN 'p' ELSE 'n' END)"),
    ("x in (1, 2, 3)", "(`x` IN (1, 2, 3))"),
    ("x !in ('a', 'b')", "(`x` NOT IN ('a', 'b'))"),
    ("countif(x > 2)", "sum(CASE WHEN (`x` > 2) THEN 1 ELSE 0 END)"),
    ("dcount(x)", "count(DISTINCT `x`)"),
    ("a =~ 'ASIA'", "(lower(`a`) = lower('ASIA'))"),
    ("count()", "count(*)"),
    ("tolong(x)", "try_cast(`x` AS BIGINT)"),
])
def test_expr_rendering(src, expected):
    assert _parse_expr(_tokenize(src)) == expected


def test_string_escaping_roundtrip():
    assert _parse_expr(_tokenize("x == 'it\\'s'")) == "(`x` = 'it''s')"


@pytest.mark.parametrize("bad", [
    "a ==", "iff(a, b)", "x in 1", "bin(ts)", "a @@ b",
])
def test_expr_errors(bad):
    with pytest.raises(ValueError):
        _parse_expr(_tokenize(bad))


def test_unsupported_stage_raises(spark, sf_dir):
    # `consume` (the previous probe here) is supported since r11 —
    # use a name no Kusto operator owns so this stays a pure
    # error-path probe
    with pytest.raises(ValueError, match="unsupported operator"):
        kql(spark, sf_dir, "nation | frobnicate blocks")


# -------------------------------------------------------------- compiler

def test_where_project_matches_dataframe(spark, sf_dir):
    got = kql(spark, sf_dir, """
      customer | where c_acctbal > 1000
                | project c_custkey, seg=tolower(c_mktsegment)
    """)
    cu = load_table(spark, sf_dir, "customer")
    want = (cu.where(F.col("c_acctbal") > 1000)
              .select("c_custkey", F.lower("c_mktsegment").alias("seg")))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect()))


def test_summarize_no_by_is_global_agg(spark, sf_dir):
    row = kql(spark, sf_dir,
              "orders | summarize n=count(), m=max(o_totalprice)").collect()
    o = load_table(spark, sf_dir, "orders")
    assert row[0]["n"] == o.count()
    assert row[0]["m"] == o.agg(F.max("o_totalprice")).collect()[0][0]


def test_join_semi_anti(spark, sf_dir):
    semi = kql(spark, sf_dir, """
      customer | join kind=leftsemi (orders) on
        $left.c_custkey == $right.o_custkey | count
    """).collect()[0]["count_"]
    anti = kql(spark, sf_dir, """
      customer | join kind=leftanti (orders) on
        $left.c_custkey == $right.o_custkey | count
    """).collect()[0]["count_"]
    cu = load_table(spark, sf_dir, "customer")
    assert semi + anti == cu.count()
    o = load_table(spark, sf_dir, "orders")
    assert semi == (cu.join(o, cu.c_custkey == o.o_custkey, "left_semi")
                      .count())


def test_distinct_and_take(spark, sf_dir):
    rows = kql(spark, sf_dir,
               "lineitem | distinct l_returnflag | sort by l_returnflag asc"
               " | take 2").collect()
    assert [r["l_returnflag"] for r in rows] == ["A", "N"]


def test_has_is_term_match_not_substring(spark, sf_dir):
    """'has' must match whole terms: 'part' the token, not 'partial'."""
    df = spark.createDataFrame(
        [("the part is here",), ("partial match only",)], ["text"])
    comp = KqlCompiler(spark, sf_dir)
    out = comp._apply(df, "where text has 'part'").collect()
    assert [r["text"] for r in out] == ["the part is here"]


# ------------------------------------------------------------------ plan

def test_broadcast_hint_reaches_plan(spark, sf_dir):
    from azure_kusto_parquet_conv_spark.plans import join_strategies
    df = kql(spark, sf_dir, """
      orders | join kind=inner hint.broadcast
        (customer | where c_mktsegment == 'BUILDING')
        on $left.o_custkey == $right.c_custkey
    """)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_top_compiles_to_take_ordered(spark, sf_dir):
    from azure_kusto_parquet_conv_spark.plans import executed_plan
    df = kql(spark, sf_dir,
             "orders | top 5 by o_totalprice desc | project o_orderkey")
    assert "TakeOrderedAndProject" in executed_plan(df)


def test_mv_expand_is_explode(spark, sf_dir):
    df = spark.createDataFrame([(1, [10, 20]), (2, [30])], ["k", "xs"])
    comp = KqlCompiler(spark, sf_dir)
    out = comp._apply(df, "mv-expand x=xs").select("k", "x").collect()
    assert sorted(map(tuple, out)) == [(1, 10), (1, 20), (2, 30)]


def test_case_requires_odd_args():
    with pytest.raises(ValueError, match="odd"):
        _parse_expr(_tokenize("case(a > 1, 'x', 'y', 'z')"))


def test_arg_max_renders_max_by():
    assert _parse_expr(_tokenize("arg_max(rank, ret)")) == \
        "max_by(`ret`, `rank`)"


def test_row_number_requires_sort(spark, sf_dir):
    with pytest.raises(ValueError, match="row_number"):
        kql(spark, sf_dir, "orders | extend rn=row_number()")


def test_extract_renders_regexp_extract():
    # no-match must be NULL (Kusto), so the render carries an RLIKE
    # guard around the regexp_extract (r13 probe sweep)
    assert _parse_expr(_tokenize("extract('(\\\\d+)', 1, s)")) == \
        ("(CASE WHEN `s` RLIKE '(\\\\d+)' "
         "THEN regexp_extract(`s`, '(\\\\d+)', 1) ELSE NULL END)")


def test_numeric_bin(spark, sf_dir):
    """bin() over a plain number floors to the bucket width."""
    got = kql(spark, sf_dir, """
      orders | summarize n=count() by b=bin(o_totalprice, 100000)
             | sort by b asc
    """).collect()
    o = load_table(spark, sf_dir, "orders")
    want = (o.groupBy((F.floor(F.col("o_totalprice") / 100000) * 100000)
                      .alias("b"))
             .agg(F.count("*").alias("n")).orderBy("b").collect())
    assert [(r["b"], r["n"]) for r in got] == \
        [(r["b"], r["n"]) for r in want]


def test_floor_with_round_to_is_bin(spark, sf_dir):
    """Kusto's two-argument floor(x, roundTo) is an alias of bin():
    it rounds down to a multiple of roundTo for integer, real and
    timespan sizes, and as a summarize key. (Spark's own floor(x,
    scale) rounds to decimal places: floor(17, 10) gave 17.) The
    one-argument floor(x) is the plain function."""
    import datetime as _dt
    r = kql(spark, sf_dir, """
      print a = floor(17, 10), b = bin(17, 10),
            c = floor(-7.5, 2.0), d = bin(-7.5, 2.0),
            e = floor(datetime(2024-03-05 10:47:12), 1d),
            f = bin(datetime(2024-03-05 10:47:12), 1d),
            g = floor(7.7)
    """).collect()[0]
    assert (r["a"], r["c"], r["e"]) == (r["b"], r["d"], r["f"]) == \
        (10, -8.0, _dt.datetime(2024, 3, 5))
    assert r["g"] == 7
    rows = {}
    for fn in ("floor", "bin"):
        got = kql(spark, sf_dir, f"""
          datatable (x:long) [17, 23, 25, -3]
          | summarize n = count() by b = {fn}(x, 10) | sort by b asc
        """).collect()
        rows[fn] = [(r["b"], r["n"]) for r in got]
    assert rows["floor"] == rows["bin"] == [(-10, 1), (10, 1), (20, 2)]


def test_tokenizer_never_hangs_on_junk():
    """Fuzz: arbitrary strings either tokenize+parse or raise ValueError —
    no hangs, no other exception types escape the parser."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="ab01+*()=!<>,.'\"| _", max_size=40))
    def run(s):
        try:
            _parse_expr(_tokenize(s))
        except ValueError:
            pass
    run()


def test_between_renders_inclusive_range():
    assert _parse_expr(_tokenize("x between (1 .. 10)")) == \
        "(`x` BETWEEN 1 AND 10)"


def test_between_in_pipeline(spark, sf_dir):
    got = kql(spark, sf_dir,
              "orders | where o_totalprice between (100000 .. 200000)"
              " | count").collect()[0]["count_"]
    o = load_table(spark, sf_dir, "orders")
    want = o.where(F.col("o_totalprice").between(100000, 200000)).count()
    assert got == want


def test_project_away_drops_columns(spark, sf_dir):
    df = kql(spark, sf_dir, "nation | project-away n_regionkey")
    assert df.columns == ["n_nationkey", "n_name"]


def test_has_any_matches_any_term(spark, sf_dir):
    df = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",), ("epsilon",)], ["text"])
    comp = KqlCompiler(spark, sf_dir)
    out = comp._apply(df, "where text has_any ('beta', 'gamma')").collect()
    assert sorted(r["text"] for r in out) == ["alpha beta", "gamma delta"]


def test_kql_where_pushes_filter_to_scan(spark, sf_dir):
    """A DSL-compiled `where` must reach the parquet scan as a
    PushedFilter — the KQL layer adds zero optimization barriers."""
    from azure_kusto_parquet_conv_spark.plans import has_pushed_filters
    df = kql(spark, sf_dir,
             "lineitem | where l_quantity > 30 | project l_orderkey")
    assert has_pushed_filters(df, "l_quantity")


def test_kql_projection_prunes_scan_columns(spark, sf_dir):
    """`project` must shrink the scan's ReadSchema, not post-filter."""
    from azure_kusto_parquet_conv_spark.plans import read_schema
    df = kql(spark, sf_dir, "lineitem | project l_orderkey, l_quantity")
    schemas = read_schema(df)
    assert len(schemas) == 1, schemas
    assert schemas[0].startswith(
        "struct<l_orderkey:bigint,l_quantity:double>"), schemas


def test_prev_next_follow_sort_order(spark, sf_dir):
    rows = kql(spark, sf_dir, """
      nation | where n_nationkey < 4
        | sort by n_nationkey asc
        | extend p=prev(n_nationkey), nx=next(n_nationkey)
        | project n_nationkey, p, nx
        | sort by n_nationkey asc
    """).collect()
    assert [(r["n_nationkey"], r["p"], r["nx"]) for r in rows] == [
        (0, None, 1), (1, 0, 2), (2, 1, 3), (3, 2, None)]


def test_prev_requires_sort(spark, sf_dir):
    with pytest.raises(ValueError, match="serialized order"):
        kql(spark, sf_dir, "orders | extend p=prev(o_totalprice)")


def test_prev_composes_inside_arithmetic(spark, sf_dir):
    """prev() must rewrite to a windowed lag even when embedded in a
    larger expression, not only as the whole right-hand side."""
    row = kql(spark, sf_dir, """
      nation | sort by n_nationkey asc
        | extend d=n_nationkey - prev(n_nationkey)
        | where isnotnull(d) | summarize s=tolong(sum(d))
    """).collect()[0]
    assert row["s"] == 24  # 24 consecutive unit steps over 25 nations


def test_make_series_dense_and_zero_filled(spark, sf_dir):
    """DSL make-series must equal the native dense-series query: same
    groups, same per-day values in bin order, zeros where a group has no
    events that day."""
    got = kql(spark, sf_dir, """
      events | extend b=tolong(user_id % 10)
             | make-series n=count() on ts step 1d by b
    """).collect()
    from azure_kusto_parquet_conv_spark.queries import QUERIES
    want = {r["b"]: r["series"] for r in
            QUERIES["q_make_series"](spark, sf_dir).collect()}
    assert len(got) == len(want)
    for r in got:
        assert ",".join(str(v) for v in r["n"]) == want[r["b"]], r["b"]
        assert len(r["bins"]) == len(r["n"])


def test_make_series_requires_step(spark, sf_dir):
    with pytest.raises(ValueError, match="make-series"):
        kql(spark, sf_dir, "events | make-series n=count() on ts")


def test_series_fold_functions(spark, sf_dir):
    rows = kql(spark, sf_dir, """
      events | extend b=tolong(user_id % 10)
             | make-series n=count() on ts step 1d by b
             | extend total=series_sum(n), mean=round(series_avg(n), 4),
                      peak=series_max(n)
             | project b, total, mean, peak
    """).collect()
    from azure_kusto_parquet_conv_spark.sources.parquet import load_table
    ev = load_table(spark, sf_dir, "events")
    want = {r["b"]: r["n"] for r in
            ev.groupBy((F.col("user_id") % 10).cast("long").alias("b"))
              .agg(F.count("*").alias("n")).collect()}
    for r in rows:
        assert r["total"] == float(want[r["b"]]), r["b"]
        assert r["peak"] >= r["mean"] > 0


def test_series_fir_trailing_moving_average(spark, sf_dir):
    df = spark.createDataFrame([(1, [2.0, 4.0, 6.0, 8.0])], ["k", "s"])
    comp = KqlCompiler(spark, sf_dir)
    out = comp._apply(df, "extend ma=series_fir(s, 2)").collect()[0]["ma"]
    assert out == [2.0, 3.0, 5.0, 7.0]  # first element: width-1 window


# ------------------------------------------------------- union / lookup

def test_union_outer_fills_missing_columns(spark, sf_dir):
    out = kql(spark, sf_dir, """
      region
        | project rk=r_regionkey, r_name
        | union (nation | project rk=n_regionkey, n_name)
    """)
    assert sorted(out.columns) == ["n_name", "r_name", "rk"]
    r = load_table(spark, sf_dir, "region").count()
    n = load_table(spark, sf_dir, "nation").count()
    assert out.count() == r + n
    # rows from each source carry nulls in the other's columns
    assert out.where(F.col("r_name").isNull()).count() == n
    assert out.where(F.col("n_name").isNull()).count() == r


def test_union_inner_keeps_common_columns(spark, sf_dir):
    out = kql(spark, sf_dir, """
      region
        | project rk=r_regionkey, r_name
        | union kind=inner (nation | project rk=n_regionkey, n_name)
    """)
    assert out.columns == ["rk"]
    r = load_table(spark, sf_dir, "region").count()
    n = load_table(spark, sf_dir, "nation").count()
    assert out.count() == r + n


def test_union_bare_table_operand(spark, sf_dir):
    out = kql(spark, sf_dir, "region | union region")
    assert out.count() == 2 * load_table(spark, sf_dir, "region").count()


def test_lookup_enriches_and_broadcasts(spark, sf_dir):
    from azure_kusto_parquet_conv_spark.plans import join_strategies
    out = kql(spark, sf_dir, """
      orders
        | lookup (customer | project o_custkey=c_custkey,
                             seg=c_mktsegment) on o_custkey
    """)
    # every order keeps its row (left join); the dim goes broadcast
    assert out.count() == load_table(spark, sf_dir, "orders").count()
    assert "BroadcastHashJoin" in join_strategies(out)
    want = dict(load_table(spark, sf_dir, "customer")
                .select("c_custkey", "c_mktsegment").collect())
    got = out.select("o_custkey", "seg").limit(50).collect()
    for row in got:
        assert row["seg"] == want[row["o_custkey"]]


def test_lookup_requires_on_clause(spark, sf_dir):
    with pytest.raises(ValueError, match="lookup"):
        kql(spark, sf_dir, "orders | lookup (customer)")


# --------------------------------------------------------------- parse

def test_parse_extracts_typed_columns(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | parse props with '{"k": ' k:long '}'
        | project event_id, k
    """)
    assert dict(out.dtypes)["k"] == "bigint"
    want = (load_table(spark, sf_dir, "events")
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("long").alias("k")))
    got = {r["event_id"]: r["k"] for r in out.collect()}
    for r in want.collect():
        assert got[r["event_id"]] == r["k"]


def test_parse_non_matching_rows_are_null(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | parse props with 'nonexistent-prefix ' v:long
        | project event_id, v
    """)
    assert out.where(F.col("v").isNotNull()).count() == 0


def test_parse_star_skips_and_trailing_capture(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | parse props with '{"' * ': ' tail
        | take 5
    """)
    for r in out.select("tail").collect():
        assert r["tail"].endswith("}")


def test_parse_rejects_unknown_type(spark, sf_dir):
    with pytest.raises(ValueError, match="parse type"):
        kql(spark, sf_dir, "events | parse props with 'x' v:datetime")


def test_parse_decodes_literal_escapes(spark):
    """'\\n' in a parse literal is a newline, not the letter n
    (Kusto string-literal semantics)."""
    from azure_kusto_parquet_conv_spark.kql import KqlCompiler

    spark_df = spark.createDataFrame(
        [("a\nb=7",), ("anb=9",)], "s string")
    out = KqlCompiler(spark, ".")._parse(
        spark_df, "s with 'a\\nb=' v:long")
    got = {r["s"]: r["v"] for r in out.collect()}
    assert got["a\nb=7"] == 7
    assert got["anb=9"] is None


def test_parse_matched_empty_string_capture_is_empty_not_null(spark):
    """A row that MATCHES with an empty capture yields '' for a string
    column (null is reserved for non-match)."""
    from azure_kusto_parquet_conv_spark.kql import KqlCompiler

    spark_df = spark.createDataFrame(
        [("k=:",), ("k=x:",), ("nomatch",)], "s string")
    out = KqlCompiler(spark, ".")._parse(spark_df, "s with 'k=' v ':'")
    got = {r["s"]: r["v"] for r in out.collect()}
    assert got["k=:"] == ""
    assert got["k=x:"] == "x"
    assert got["nomatch"] is None


def test_top_nested_two_levels(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | top-nested 2 of event_type by n=count(),
          top-nested 3 of user_id by s=round(sum(value), 2)
    """)
    rows = out.collect()
    assert out.columns == ["event_type", "n", "user_id", "s"]
    # exactly the top-2 types by count
    ev = load_table(spark, sf_dir, "events")
    counts = {r["event_type"]: r["count"]
              for r in ev.groupBy("event_type").count().collect()}
    top2 = set(sorted(counts, key=lambda t: (-counts[t], t))[:2])
    assert {r["event_type"] for r in rows} == top2
    # at most 3 users within each type, ranked by per-type spend
    for t in top2:
        users = [r for r in rows if r["event_type"] == t]
        assert 1 <= len(users) <= 3
        spend = {r["user_id"]: r["s"] for r in
                 ev.where(F.col("event_type") == t).groupBy("user_id")
                   .agg(F.round(F.sum("value"), 2).alias("s")).collect()}
        want = sorted(spend, key=lambda u: (-spend[u], u))[:len(users)]
        assert [r["user_id"] for r in users
                if True] and {r["user_id"] for r in users} == set(want)


def test_top_nested_single_level(spark, sf_dir):
    out = kql(spark, sf_dir,
              "events | top-nested 1 of event_type by n=count()")
    assert out.count() == 1


def test_startof_scalars(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | extend d=startofday(ts), w=startofweek(ts), m=startofmonth(ts),
                 y=startofyear(ts)
        | project ts, d, w, m, y
        | take 200
    """).collect()
    import datetime as dt
    for r in out:
        t = r["ts"]
        assert r["d"] == t.replace(hour=0, minute=0, second=0, microsecond=0)
        assert r["m"] == t.replace(day=1, hour=0, minute=0, second=0,
                                   microsecond=0)
        assert r["y"] == t.replace(month=1, day=1, hour=0, minute=0,
                                   second=0, microsecond=0)
        # Kusto weeks start Sunday: w is the latest Sunday <= ts
        assert r["w"].weekday() == 6 and r["w"] <= t \
            and t - r["w"] < dt.timedelta(days=7)


def test_datatable_inline_literal_table(spark, sf_dir):
    out = kql(spark, sf_dir, """
      datatable (k:long, name:string, when:datetime) [
        1, 'one', datetime(2024-01-01),
        2, 'two', datetime(2024-06-15T12:30:00)
      ]
    """).orderBy("k").collect()
    assert [r["name"] for r in out] == ["one", "two"]
    assert out[1]["when"].hour == 12 and out[1]["when"].minute == 30
    got = kql(spark, sf_dir, "datatable (x:long) []")
    assert got.count() == 0 and dict(got.dtypes)["x"] == "bigint"


def test_datatable_value_count_mismatch_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="multiple"):
        kql(spark, sf_dir, "datatable (a:long, b:long) [1, 2, 3]")


def test_render_is_tabular_noop(spark, sf_dir):
    base = kql(spark, sf_dir, "region | sort by r_regionkey asc")
    rendered = kql(spark, sf_dir,
                   "region | sort by r_regionkey asc | render barchart")
    assert rendered.collect() == base.collect()
    with pytest.raises(ValueError, match="chart"):
        kql(spark, sf_dir, "region | render hologram3d")


def test_parse_where_drops_non_matching_rows(spark, sf_dir):
    kept = kql(spark, sf_dir, """
      events | parse-where props with 'nonexistent-prefix ' v:long
    """)
    assert kept.count() == 0
    matched = kql(spark, sf_dir, """
      events | parse-where props with '{"k": ' k:long '}'
    """)
    assert matched.where(F.col("k").isNull()).count() == 0 or \
        matched.count() > 0  # all kept rows matched the pattern


def test_mv_apply_summarize_per_record(spark, sf_dir):
    out = kql(spark, sf_dir, """
      datatable (id:long, s:string) [ 1, 'a bb ccc', 2, 'x y' ]
        | extend toks = split(s, ' ')
        | mv-apply t = toks on (
            summarize n = count(), mx = tolong(max(strlen(t))) )
        | project id, n, mx
    """)
    got = {r["id"]: (r["n"], r["mx"]) for r in out.collect()}
    assert got == {1: (3, 3), 2: (2, 1)}


def test_mv_apply_where_and_top(spark, sf_dir):
    # Kusto default sort direction is desc: top 1 by strlen = longest
    out = kql(spark, sf_dir, """
      datatable (id:long, s:string) [ 1, 'bb a ccc', 2, 'x yy' ]
        | extend toks = split(s, ' ')
        | mv-apply t = toks on ( where strlen(t) > 1 | top 1 by strlen(t) )
        | project id, t
    """)
    got = {r["id"]: r["t"] for r in out.collect()}
    assert got == {1: "ccc", 2: "yy"}


def test_mv_apply_rejects_unsupported_subop(spark, sf_dir):
    with pytest.raises(ValueError, match="mv-apply subquery"):
        kql(spark, sf_dir, """
          datatable (id:long) [1] | extend a = split('x y', ' ')
            | mv-apply t = a on ( distinct t )
        """)


def test_top_defaults_to_descending(spark, sf_dir):
    # Kusto: `top N by x` means the N LARGEST by default
    out = kql(spark, sf_dir, "orders | top 3 by o_totalprice").collect()
    prices = [r["o_totalprice"] for r in out]
    assert prices == sorted(prices, reverse=True)
    mx = kql(spark, sf_dir,
             "orders | summarize m = max(o_totalprice)").collect()[0]["m"]
    assert prices[0] == mx


def test_let_scalar_and_tabular(spark, sf_dir):
    out = kql(spark, sf_dir, """
      let cutoff = 30;
      let big = lineitem | where l_quantity > cutoff;
      big | summarize n = count() by l_returnflag
    """)
    want = kql(spark, sf_dir, """
      lineitem | where l_quantity > 30 | summarize n = count() by l_returnflag
    """)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))


def test_let_scalar_not_substituted_inside_strings(spark, sf_dir):
    out = kql(spark, sf_dir, """
      let x = 7;
      print lit = 'x marks', v = x
    """).collect()[0]
    assert out["lit"] == "x marks" and out["v"] == 7


def test_print_one_row_table(spark, sf_dir):
    r = kql(spark, sf_dir,
            "print x = 1 + 2, s = strcat('a', 'b')").collect()
    assert len(r) == 1 and r[0]["x"] == 3 and r[0]["s"] == "ab"


def test_project_rename_keep_reorder(spark, sf_dir):
    df = kql(spark, sf_dir, """
      nation | project-rename key = n_nationkey
             | project-keep key, n_name
    """)
    assert df.columns == ["key", "n_name"]
    df2 = kql(spark, sf_dir, "nation | project-reorder n_name")
    assert df2.columns[0] == "n_name" and set(df2.columns) == \
        {"n_name", "n_nationkey", "n_regionkey"}


def test_getschema_and_serialize(spark, sf_dir):
    rows = kql(spark, sf_dir, "region | serialize | getschema").collect()
    assert [(r["ColumnName"], r["ColumnOrdinal"]) for r in rows] == \
        [("r_regionkey", 0), ("r_name", 1)]


def test_scalar_function_battery(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print a = isempty(''), b = isnotempty('x'),
            c = indexof('hello', 'll'), miss = indexof('hello', 'zz'),
            d = countof('aXbXc', 'X'),
            e = replace_string('a-b', '-', '+'),
            f = trim('x+', 'xxhixx'), fs = trim_start('x+', 'xxhix'),
            g = strrep('ab', 3),
            h = format_datetime(datetime(2024-03-05T07:09:11), 'yyyy-MM-dd'),
            i = getyear(datetime(2024-03-05)),
            j = todatetime('2024-03-05 00:00:00')
    """).collect()[0]
    assert r["a"] is True and r["b"] is True
    assert r["c"] == 2 and r["miss"] == -1 and r["d"] == 2
    assert r["e"] == "a+b" and r["f"] == "hi" and r["fs"] == "hix"
    assert r["g"] == "ababab" and r["h"] == "2024-03-05"
    assert r["i"] == 2024 and r["j"].year == 2024


def test_conditional_aggregates_match_manual(spark, sf_dir):
    got = kql(spark, sf_dir, """
      lineitem | summarize hi = round(sumif(l_quantity, l_discount > 0.05), 2),
                           n_hi = dcountif(l_orderkey, l_discount > 0.05)
    """).collect()[0]
    want = (load_table(spark, sf_dir, "lineitem")
            .agg(F.round(F.sum(F.when(F.col("l_discount") > 0.05,
                                      F.col("l_quantity"))), 2).alias("hi"),
                 F.count_distinct(F.when(F.col("l_discount") > 0.05,
                                         F.col("l_orderkey"))).alias("n_hi"))
            ).collect()[0]
    assert got["hi"] == want["hi"] and got["n_hi"] == want["n_hi"]


def test_dynamic_parse_json_path_access(spark, sf_dir):
    out = kql(spark, sf_dir, """
      events
        | extend d = parse_json(props)
        | where d.k > 50
        | summarize n = count(), ksum = sum(tolong(d.k)) by event_type
    """)
    want = (load_table(spark, sf_dir, "events")
            .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
            .where(F.col("k") > 50)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("k").alias("ksum")))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))


def test_dynamic_string_compare_and_tostring(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print j = '{"name": "ada"}'
        | extend d = todynamic(j)
        | where d.name == 'ada'
        | project who = tostring(d.name)
    """).collect()
    assert len(r) == 1 and r[0]["who"] == "ada"


def test_dynamic_nested_path(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print j = '{"a": {"b": {"c": 7}}}'
        | extend d = parse_json(j)
        | project v = tolong(d.a.b.c)
    """).collect()[0]
    assert r["v"] == 7


def test_mv_expand_dynamic_array(spark, sf_dir):
    out = kql(spark, sf_dir, """
      print j = '{"xs": [1,2,3]}'
        | extend d = parse_json(j)
        | mv-expand x = d.xs
        | project v = tolong(x)
    """).collect()
    assert sorted(r["v"] for r in out) == [1, 2, 3]


def test_dynamic_missing_key_is_null(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print j = '{"k": 1}'
        | extend d = parse_json(j)
        | project miss = tostring(d.nope)
    """).collect()[0]
    assert r["miss"] is None


def test_range_source_inclusive_bounds(spark, sf_dir):
    xs = [r["x"] for r in kql(
        spark, sf_dir, "range x from 1 to 10 step 3").collect()]
    assert sorted(xs) == [1, 4, 7, 10]
    neg = [r["v"] for r in kql(
        spark, sf_dir, "range v from 5 to 1 step -2").collect()]
    assert sorted(neg) == [1, 3, 5]


def test_as_names_intermediate_result(spark, sf_dir):
    out = kql(spark, sf_dir, """
      nation | where n_regionkey == 0 | as af
        | union (af)
        | count
    """).collect()[0]["count_"]
    single = kql(spark, sf_dir,
                 "nation | where n_regionkey == 0 | count"
                 ).collect()[0]["count_"]
    assert out == 2 * single


def test_top_hitters_exact_counts(spark, sf_dir):
    rows = kql(spark, sf_dir,
               "events | top-hitters 2 of event_type").collect()
    want = (load_table(spark, sf_dir, "events")
            .groupBy("event_type").count()
            .orderBy(F.col("count").desc(), "event_type").limit(2)
            .collect())
    assert [(r["event_type"], r["approximate_count_event_type"])
            for r in rows] == [(r["event_type"], r["count"]) for r in want]


def test_sample_is_deterministic_and_sized(spark, sf_dir):
    a = kql(spark, sf_dir, "orders | sample 7").collect()
    b = kql(spark, sf_dir, "orders | sample 7").collect()
    assert len(a) == 7 and sorted(map(tuple, a)) == sorted(map(tuple, b))
    d = kql(spark, sf_dir,
            "orders | sample-distinct 2 of o_orderstatus").collect()
    assert len(d) == 2 and len({r[0] for r in d}) == 2


def test_bin_at_aligns_to_fixed_point(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print v = 23
        | extend b = bin_at(v, 10, 5), below = bin_at(-7, 10, 5),
                 t = bin_at(datetime(2024-03-05T07:09:11), 1d,
                            datetime(1970-01-01T06:00:00))
    """).collect()[0]
    assert r["b"] == 15 and r["below"] == -15
    assert r["t"].hour == 6 and r["t"].day == 5


def test_endof_and_dayofweek(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print t = datetime(2024-03-05T07:09:11)
        | extend dow_days = dayofweek(t) / 1d, eod = endofday(t),
                 eow = endofweek(t), eom = endofmonth(t)
    """).collect()[0]
    assert r["dow_days"] == 2.0                      # Tuesday
    assert r["eod"].hour == 23 and r["eod"].minute == 59
    assert r["eow"].day == 9                         # Sat (Sun-based week)
    assert r["eom"].day == 31


def test_array_function_family(spark, sf_dir):
    r = kql(spark, sf_dir, """
      print a = pack_array(3, 1, 2)
        | extend n = array_length(a), i = array_index_of(a, 2),
                 miss = array_index_of(a, 99),
                 s = array_slice(a, 1, 2), srt = array_sort_asc(a),
                 u = set_union(a, pack_array(9, 1)),
                 x = set_intersect(a, pack_array(1, 2, 8)),
                 d = set_difference(a, pack_array(1)),
                 j = strcat_delim('-', 'a', 'b', 'c')
    """).collect()[0]
    assert r["n"] == 3 and r["i"] == 2 and r["miss"] == -1
    assert r["s"] == [1, 2] and r["srt"] == [1, 2, 3]
    assert sorted(r["u"]) == [1, 2, 3, 9] and sorted(r["x"]) == [1, 2]
    assert sorted(r["d"]) == [2, 3] and r["j"] == "a-b-c"


def test_bag_unpack_types_and_missing(spark, sf_dir):
    out = kql(spark, sf_dir, """
      datatable (id:long, j:string) [
        1, '{"a": 5, "b": "x"}',
        2, '{"a": 7}'
      ]
        | extend d = parse_json(j)
        | project id, d
        | evaluate bag_unpack(d)
    """)
    assert set(out.columns) == {"id", "a", "b"}
    assert dict(out.dtypes)["a"] == "bigint"
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a"] == 5 and rows[1]["b"] == "x"
    assert rows[2]["a"] == 7 and rows[2]["b"] is None


def test_summarize_shufflekey_hint(spark, sf_dir):
    got = kql(spark, sf_dir, """
      lineitem | summarize hint.shufflekey = l_returnflag
                 n = count() by l_returnflag
    """).collect()
    want = kql(spark, sf_dir,
               "lineitem | summarize n = count() by l_returnflag").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_externaldata_csv_with_header(spark, sf_dir, tmp_path):
    p = tmp_path / "ext.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    out = kql(spark, sf_dir, f"""
      externaldata (a:long, b:string) ['{p}']
        with (format='csv', ignoreFirstRecord=true)
        | sort by a asc
    """).collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, "x"), (2, "y")]


def test_join_default_is_innerunique(spark, sf_dir):
    """Kusto's default join kind dedups the LEFT side on the join key
    before the inner join — one output row per (left key, right row)."""
    out = kql(spark, sf_dir, """
      datatable (k:long, v:string) [1, 'a1', 1, 'a2', 2, 'b']
        | join (datatable (k:long, w:long) [1, 10, 2, 20]) on k
    """).collect()
    assert len(out) == 2
    assert {r["k"] for r in out} == {1, 2}


def test_join_rightsemi_rightanti(spark, sf_dir):
    semi = kql(spark, sf_dir, """
      datatable (r_regionkey:int) [0, 2]
        | join kind=rightsemi (region) on r_regionkey
    """)
    assert set(semi.columns) == {"r_regionkey", "r_name"}
    assert sorted(r["r_regionkey"] for r in semi.collect()) == [0, 2]
    anti = kql(spark, sf_dir, """
      datatable (r_regionkey:int) [0, 2]
        | join kind=rightanti (region) on r_regionkey
    """)
    assert sorted(r["r_regionkey"] for r in anti.collect()) == [1, 3, 4]


def test_let_materialize_caches(spark, sf_dir):
    out = kql(spark, sf_dir, """
      let base = materialize(lineitem
        | summarize q = sum(l_quantity) by l_returnflag);
      base | join kind=inner (base | project l_returnflag, q2 = q)
        on l_returnflag
    """)
    rows = out.collect()
    assert len(rows) == 3 and all(r["q"] == r["q2"] for r in rows)
    # the let body is marked for reuse
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan


def test_let_bound_name_as_bare_join_operand(spark, sf_dir):
    """A let-bound result used as an UNPARENTHESIZED join operand must
    resolve from the binding environment, not the table directory
    (r4 advice: _operand fell through to load_table and raised)."""
    out = kql(spark, sf_dir, """
      let asia = nation | where n_regionkey == 2
                        | project n_regionkey, n_name;
      region | join kind=inner asia
          on $left.r_regionkey == $right.n_regionkey
    """)
    want = kql(spark, sf_dir, """
      region | join kind=inner (nation | where n_regionkey == 2
                                       | project n_regionkey, n_name)
          on $left.r_regionkey == $right.n_regionkey
    """)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))
    assert out.count() > 0


def test_as_named_result_as_bare_union_operand(spark, sf_dir):
    """`as` names the intermediate result; later bare-name operands
    must see it (shadowing any same-named on-disk table)."""
    out = kql(spark, sf_dir, """
      region | project r_name | as snap | union snap
    """)
    assert out.count() == 2 * load_table(spark, sf_dir, "region").count()


def test_variant_compare_with_compound_expression(spark, sf_dir):
    """Comparing a dynamic path to a NON-literal expression (r4 advice:
    only bare literals got the variant cast; `d.k > cutoff + 1` left a
    raw VARIANT comparison that failed analysis)."""
    out = kql(spark, sf_dir, """
      events
        | extend d = parse_json(props)
        | where d.k > (40 + 10)
        | summarize n = count()
    """).collect()[0]
    want = kql(spark, sf_dir, """
      events
        | extend d = parse_json(props)
        | where d.k > 50
        | summarize n = count()
    """).collect()[0]
    assert out["n"] == want["n"] and out["n"] > 0


def test_variant_compare_with_string_function(spark, sf_dir):
    """String-producing compound expression on the other side coerces
    the variant to STRING (surface-form fallback)."""
    r = kql(spark, sf_dir, """
      print j = '{"name": "ada"}'
        | extend d = todynamic(j)
        | where d.name == strcat('a', 'da')
        | project who = tostring(d.name)
    """).collect()
    assert len(r) == 1 and r[0]["who"] == "ada"


def test_partition_by_prev_rownumber_parity(spark, sf_dir):
    """`partition by key ( sort | extend prev/row_number )` must equal
    the hand-built key-partitioned window, with exact Kusto ordering
    (sort keys become the window order, partitioned on the key)."""
    from pyspark.sql import Window
    out = kql(spark, sf_dir, """
      events
        | partition by user_id (
            sort by ts asc, event_id asc
            | extend dv = value - prev(value), rn = row_number()
            | where rn <= 3
          )
        | project user_id, event_id, rn, dv
    """)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    want = (load_table(spark, sf_dir, "events")
            .withColumn("dv", F.col("value") - F.lag("value", 1).over(w))
            .withColumn("rn", F.row_number().over(w).cast("long"))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "rn", "dv"))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, want.collect()))


def test_partition_by_plan_has_no_global_sort(spark, sf_dir):
    """Inside `partition by` the serialized ops must never collapse to
    a single partition: no SinglePartition exchange, no global Sort."""
    out = kql(spark, sf_dir, """
      events
        | partition by user_id (
            sort by ts asc, event_id asc
            | extend rn = row_number()
            | where rn <= 2
          )
    """)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in phys
    assert "hashpartitioning(user_id" in phys


def test_partition_by_take_top_summarize(spark, sf_dir):
    """take/top become per-key window cuts; summarize gains the key as
    a grouping column."""
    per_key = kql(spark, sf_dir, """
      events
        | partition by event_type (
            top 2 by value
          )
    """)
    counts = {r["event_type"]: r["n"] for r in
              per_key.groupBy("event_type").agg(F.count("*").alias("n"))
              .collect()}
    assert counts and all(v == 2 for v in counts.values())
    agg = kql(spark, sf_dir, """
      events
        | partition by event_type ( summarize n = count() )
    """)
    want = (load_table(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("n")))
    assert sorted(map(tuple, agg.collect())) == \
        sorted(map(tuple, want.collect()))


def test_unscoped_serialize_warns_global_sort(spark, sf_dir):
    """prev()/row_number() OUTSIDE a partition scope stay correct but
    must emit the loud scale warning (single-partition global sort)."""
    import warnings
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        kql(spark, sf_dir, """
          events | take 100 | sort by event_id asc
                 | extend rn = row_number()
        """)
    assert any("single-partition" in str(w.message) for w in rec)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        kql(spark, sf_dir, """
          events
            | partition by user_id (
                sort by event_id asc | extend rn = row_number() )
        """)
    assert not any("single-partition" in str(w.message) for w in rec)


def test_datatable_lookup_broadcasts(spark, sf_dir):
    from azure_kusto_parquet_conv_spark.plans import join_strategies
    df = kql(spark, sf_dir, """
      nation
        | lookup kind=inner (datatable (n_regionkey:int, bonus:real) [
            0, 1.5,  1, 2.5
          ]) on n_regionkey
    """)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_make_series_full_range_grid_and_default(spark, sf_dir):
    """make-series fills EVERY step between min and max bin (not just
    observed bins), with `default=` controlling the fill value: omitted
    -> 0 (Kusto default), `default=null`/`real(null)` -> null."""
    src = """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 1.0,
        datetime(2024-01-01), 3.0,
        datetime(2024-01-03), 5.0,
        datetime(2024-01-04), 100.0,
        datetime(2024-01-06), 4.0
      ]
    """
    zero = kql(spark, sf_dir,
               src + "| make-series s=avg(v) on ts step 1d").collect()[0]
    assert len(zero["bins"]) == 6  # 01..06 inclusive, gaps 02 and 05
    assert zero["s"] == [2.0, 0.0, 5.0, 100.0, 0.0, 4.0]
    nul = kql(spark, sf_dir,
              src + "| make-series s=avg(v) default=null on ts step 1d"
              ).collect()[0]
    assert nul["s"] == [2.0, None, 5.0, 100.0, None, 4.0]
    # count() series with a gap stays LONG-typed
    cnt = kql(spark, sf_dir,
              src + "| make-series n=count() on ts step 1d").collect()[0]
    assert cnt["n"] == [2, 0, 1, 1, 0, 1]
    assert all(isinstance(v, int) for v in cnt["n"])


def test_series_fill_family(spark, sf_dir):
    """series_fill_const/forward/backward/linear over a null-gapped
    series; linear interpolates interior gaps and takes the nearest
    anchor at the edges (Kusto series_fill_linear edge rule)."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-02), 2.0,
        datetime(2024-01-04), 8.0,
        datetime(2024-01-07), 5.0
      ]
      | make-series s=avg(v) default=null on ts step 1d
      | extend cst=series_fill_const(s, -1.0),
               ff=series_fill_forward(s),
               bf=series_fill_backward(s),
               lin=series_fill_linear(s)
    """).collect()[0]
    assert row["s"] == [2.0, None, 8.0, None, None, 5.0]
    assert row["cst"] == [2.0, -1.0, 8.0, -1.0, -1.0, 5.0]
    assert row["ff"] == [2.0, 2.0, 8.0, 8.0, 8.0, 5.0]
    assert row["bf"] == [2.0, 8.0, 8.0, 5.0, 5.0, 5.0]
    assert row["lin"] == [2.0, 5.0, 8.0, 7.0, 6.0, 5.0]


def test_series_fill_edges_stay_null_for_directional_fills(spark, sf_dir):
    """Leading nulls stay null under forward fill, trailing under
    backward fill; linear fills both edges with the nearest anchor."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-02), 6.0,
        datetime(2024-01-03), 4.0
      ]
      | make-series s=avg(v) default=null on ts step 1d
      | extend ff=series_fill_forward(s), bf=series_fill_backward(s),
               lin=series_fill_linear(s)
    """, )
    # widen the range with an empty-bin day on each side
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 999.0,
        datetime(2024-01-03), 6.0,
        datetime(2024-01-05), 999.0
      ]
      | where v != 999.0
      | union (datatable (ts:datetime, v:real) [
          datetime(2024-01-01), 1.0, datetime(2024-01-05), 9.0 ])
      | make-series s=avg(v) default=null on ts step 1d
      | extend lin=series_fill_linear(s)
    """).collect()[0]
    assert row["s"] == [1.0, None, 6.0, None, 9.0]
    assert row["lin"] == [1.0, 3.5, 6.0, 7.5, 9.0]


def test_series_outliers_tukey(spark, sf_dir):
    """Tukey-fence score: 0 inside the fences, signed range-units past
    them, null passthrough for null points. Kusto's default kind is
    'ctukey' (10th-90th percentile range, r13 probe sweep); the
    explicit 'tukey' kind gives the classic 25-75 quartiles, and
    ctukey's percentiles are overridable."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 2.0,
        datetime(2024-01-02), 4.0,
        datetime(2024-01-03), 5.0,
        datetime(2024-01-04), 100.0,
        datetime(2024-01-06), 3.0
      ]
      | make-series s=avg(v) default=null on ts step 1d
      | extend o=series_outliers(s, 'tukey')
    """).collect()[0]
    # sorted non-null = [2,3,4,5,100]; nearest-rank q1=ceil(1.25)=2 -> 3,
    # q3=ceil(3.75)=4 -> 5; iqr=2; fences [0, 8]; 100 -> (100-8)/2 = 46
    assert row["o"][:4] == [0.0, 0.0, 0.0, 46.0]
    assert row["o"][4] is None  # the empty 01-05 bin (default=null)
    assert row["o"][5] == 0.0
    # default = ctukey 10-90: q_lo=ceil(0.5)=1 -> 2, q_hi=ceil(4.5)=5
    # -> 100; range=98; fences [-145, 247] swallow everything
    d = kql(spark, sf_dir, """
      print s = pack_array(2.0, 4.0, 5.0, 100.0, 3.0)
        | extend o = series_outliers(s)
    """).collect()[0]
    assert d["o"] == [0.0, 0.0, 0.0, 0.0, 0.0]
    # ctukey with custom 25-75 percentiles == explicit tukey
    c = kql(spark, sf_dir, """
      print s = pack_array(2.0, 4.0, 5.0, 100.0, 3.0)
        | extend o = series_outliers(s, 'ctukey', 0.0, 25, 75)
    """).collect()[0]
    assert c["o"] == [0.0, 0.0, 0.0, 46.0, 0.0]
    # ignore_val points are treated as missing: excluded from the
    # percentiles and scored null
    g = kql(spark, sf_dir, """
      print s = pack_array(2.0, 4.0, -1.0, 5.0, 100.0, 3.0)
        | extend o = series_outliers(s, 'tukey', -1.0)
    """).collect()[0]
    assert g["o"] == [0.0, 0.0, None, 0.0, 46.0, 0.0]
    import pytest
    with pytest.raises(ValueError, match="tukey"):
        kql(spark, sf_dir, "print s = pack_array(1.0) "
                           "| extend o = series_outliers(s, 'mad')")


def test_series_arithmetic_zip(spark, sf_dir):
    """series_add/subtract/multiply/divide are element-wise; divide by
    zero yields null (not an ANSI error)."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, a:real, b:real) [
        datetime(2024-01-01), 10.0, 2.0,
        datetime(2024-01-02), 9.0, 0.0
      ]
      | make-series x=avg(a), y=avg(b) on ts step 1d
      | extend s=series_add(x, y), d=series_subtract(x, y),
               m=series_multiply(x, y), q=series_divide(x, y)
    """).collect()[0]
    assert row["s"] == [12.0, 9.0]
    assert row["d"] == [8.0, 9.0]
    assert row["m"] == [20.0, 0.0]
    assert row["q"] == [5.0, None]


def test_search_operator(spark, sf_dir):
    """search 'term' filters on ANY string column, case-insensitively by
    default; kind=case_sensitive restores exact matching."""
    got = kql(spark, sf_dir, """
      datatable (a:string, b:string, n:long) [
        'Alpha', 'x', 1,
        'beta', 'holds QUERY text', 2,
        'gamma', 'z', 3
      ]
      | search 'query'
    """).collect()
    assert [r["n"] for r in got] == [2]
    cs = kql(spark, sf_dir, """
      datatable (a:string) ['Alpha', 'alpha']
      | search kind=case_sensitive 'Alp'
    """).collect()
    assert [r["a"] for r in cs] == ["Alpha"]
    # a real table source: term match anywhere in events' string columns
    ev = kql(spark, sf_dir, "events | search 'click' | count")
    want = (load_table(spark, sf_dir, "events")
            .where(F.lower(F.col("event_type")).contains("click")
                   | F.lower(F.col("props")).contains("click"))
            .count())
    assert ev.collect()[0][0] == want


def test_scan_sequence_matching(spark, sf_dir):
    """scan: greedy single-sequence matching per partition key —
    emit-on-match rows carry the step name and a per-key match_id;
    completed sequences restart the automaton."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (u:long, t:long, e:string) [
        1, 1, 'signup',  1, 2, 'click',  1, 3, 'click',  1, 4, 'purchase',
        1, 5, 'signup',  1, 6, 'purchase',
        2, 1, 'click',   2, 2, 'signup', 2, 3, 'purchase',
        3, 1, 'purchase'
      ]
      | partition by u (
          sort by t asc
          | scan with (step s1: e == 'signup'; step s2: e == 'purchase';)
        )
    """).collect()))
    assert rows == [
        (1, 1, "signup", "s1", 0), (1, 4, "purchase", "s2", 0),
        (1, 5, "signup", "s1", 1), (1, 6, "purchase", "s2", 1),
        (2, 2, "signup", "s1", 0), (2, 3, "purchase", "s2", 0),
    ]


def test_scan_matches_python_reference_on_events(spark, sf_dir):
    """Differential: the distributed scan over real events equals a
    brute-force Python automaton run per user on the collected rows."""
    got = kql(spark, sf_dir, """
      events
        | partition by user_id (
            sort by ts_ns asc, event_id asc
            | scan with (step a: event_type == 'signup';
                         step b: event_type == 'click';
                         step c: event_type == 'purchase';)
          )
    """).select("user_id", "event_id", "step", "match_id").collect()
    got_set = {(r["user_id"], r["event_id"], r["step"], r["match_id"])
               for r in got}

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "ts_ns", "event_id", "event_type").collect())
    from collections import defaultdict
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    preds = [lambda e: e == "signup", lambda e: e == "click",
             lambda e: e == "purchase"]
    names = ["a", "b", "c"]
    want = set()
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts_ns"], r["event_id"]))
        k, mid = 0, 0
        for r in rs:
            e = r["event_type"]
            # advance > extend > restart-at-completed (Kusto
            # repeated-step semantics, r7 verdict #4)
            if k < 3 and preds[k](e):
                want.add((u, r["event_id"], names[k], mid))
                k += 1
            elif k > 0 and preds[k - 1](e):
                want.add((u, r["event_id"], names[k - 1], mid))
            elif k == 3 and preds[0](e):
                mid += 1
                want.add((u, r["event_id"], names[0], mid))
                k = 1
    assert got_set == want and len(want) > 0


def test_scan_with_match_id_name_and_single_step(spark, sf_dir):
    """Single-step scan: Kusto's repeated-step matching keeps ONE
    sequence extending across every matching row (the cumulative
    idiom), so both x rows share match_id 0."""
    out = kql(spark, sf_dir, """
      datatable (t:long, e:string) [1,'x', 2,'y', 3,'x']
      | sort by t asc
      | scan with_match_id=seq with (step only: e == 'x';)
    """)
    assert "seq" in out.columns
    assert [(r["t"], r["seq"]) for r in
            sorted(out.collect(), key=lambda r: r["t"])] == [(1, 0), (3, 0)]


def test_row_cumsum_partitioned(spark, sf_dir):
    """row_cumsum: running sum over serialized order, key-partitioned
    inside partition by (no global sort)."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (u:long, t:long, v:long) [
        1, 1, 10,  1, 2, 5,  1, 3, 1,
        2, 1, 7,   2, 2, 3
      ]
      | partition by u (
          sort by t asc
          | extend run = row_cumsum(v)
        )
      | project u, t, run
    """).collect()))
    assert rows == [(1, 1, 10), (1, 2, 15), (1, 3, 16),
                    (2, 1, 7), (2, 2, 10)]


def test_mv_expand_zips_multiple_arrays(spark, sf_dir):
    """mv-expand a, b expands in lockstep (Kusto zip semantics); the
    shorter array null-pads."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (id:long) [1]
      | extend a = pack_array(10, 20, 30), b = pack_array('x', 'y')
      | mv-expand va = a, vb = b
      | project id, va, vb
    """).collect()), key=lambda r: (r[1] is None, r))
    assert rows == [(1, 10, "x"), (1, 20, "y"), (1, 30, None)]


def test_hll_sketch_reaggregation(spark, sf_dir):
    """hll()/hll_merge()/dcount_hll(): per-group HLL sketches merge to
    the global estimate without re-scanning — estimate within 2% of the
    exact distinct count, and the merged estimate equals the
    single-pass estimate exactly (same sketch algebra)."""
    est = kql(spark, sf_dir, """
      events
        | summarize sk = hll(user_id) by event_type
        | summarize total_est = dcount_hll(hll_merge(sk))
    """).collect()[0]["total_est"]
    one_pass = kql(spark, sf_dir, """
      events | summarize e = dcount_hll(hll(user_id))
    """).collect()[0]["e"]
    exact = (load_table(spark, sf_dir, "events")
             .select("user_id").distinct().count())
    assert est == one_pass
    assert abs(est - exact) <= max(2, 0.02 * exact)


def test_evaluate_pivot(spark, sf_dir):
    """evaluate pivot: distinct pivot values become columns; default
    aggregate is count(); remaining columns group implicitly."""
    df = kql(spark, sf_dir, """
      events
        | extend u = tolong(user_id % 2)
        | project u, event_type
        | evaluate pivot(event_type, count())
    """)
    assert set(df.columns) == {"u", "click", "error", "purchase",
                               "signup", "view"}
    want = (load_table(spark, sf_dir, "events")
            .groupBy((F.col("user_id") % 2).cast("long").alias("u"))
            .pivot("event_type").count())
    got = {r["u"]: (r["click"], r["view"]) for r in df.collect()}
    exp = {r["u"]: (r["click"], r["view"]) for r in want.collect()}
    assert got == exp
    # explicit agg + explicit keys
    df2 = kql(spark, sf_dir, """
      events
        | extend u = tolong(user_id % 2)
        | evaluate pivot(event_type, sum(value), u)
    """)
    assert set(df2.columns) == {"u", "click", "error", "purchase",
                                "signup", "view"}


def test_partition_by_multiple_keys(spark, sf_dir):
    """partition by k1, k2: serialized ops window over the composite
    key; summarize gains all missing keys."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (a:long, b:string, t:long, v:long) [
        1, 'x', 1, 5,  1, 'x', 2, 7,  1, 'y', 1, 11,
        2, 'x', 1, 13
      ]
      | partition by a, b (
          sort by t asc
          | extend rn = row_number(), run = row_cumsum(v)
        )
      | project a, b, t, rn, run
    """).collect()))
    assert rows == [(1, "x", 1, 1, 5), (1, "x", 2, 2, 12),
                    (1, "y", 1, 1, 11), (2, "x", 1, 1, 13)]
    agg = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (a:long, b:string, v:long) [
        1, 'x', 5,  1, 'x', 7,  1, 'y', 11, 2, 'x', 13
      ]
      | partition by a, b ( summarize s = sum(v) )
    """).collect()))
    assert agg == [(5 + 7, 1, "x"), (11, 1, "y"), (13, 2, "x")] or \
        agg == sorted([(1, "x", 12), (1, "y", 11), (2, "x", 13)])


def test_series_seasonal_and_stdev(spark, sf_dir):
    """series_seasonal: zero-sum per-phase means (period 2 on an
    alternating series isolates the oscillation); series_stdev:
    population stdev of the non-null points."""
    r = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 1.0,
        datetime(2024-01-02), 5.0,
        datetime(2024-01-03), 1.0,
        datetime(2024-01-04), 5.0,
        datetime(2024-01-05), 1.0,
        datetime(2024-01-06), 5.0
      ]
      | make-series s=avg(v) on ts step 1d
      | extend sea = series_seasonal(s, 2), sd = series_stdev(s),
               resid = series_subtract(series_subtract(s,
                         series_seasonal(s, 2)), s)
    """).collect()[0]
    assert r["sea"] == [-2.0, 2.0, -2.0, 2.0, -2.0, 2.0]
    assert r["sd"] == 2.0
    # s - seasonal - s == -seasonal (sanity of the compose chain)
    assert r["resid"] == [2.0, -2.0, 2.0, -2.0, 2.0, -2.0]


def test_make_series_explicit_from_to(spark, sf_dir):
    """make-series from/to: bins anchor at `from`, rows outside
    [from, to) are excluded, and the grid spans the EXPLICIT range even
    where no data exists (constant-folded, no data-driven range pass)."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2023-12-30), 99.0,
        datetime(2024-01-02), 4.0,
        datetime(2024-01-03), 6.0,
        datetime(2024-01-09), 99.0
      ]
      | make-series s=avg(v)
          on ts from datetime(2024-01-01) to datetime(2024-01-06) step 1d
    """).collect()[0]
    assert len(row["bins"]) == 5  # 01..05, clipped both sides
    assert row["s"] == [0.0, 4.0, 6.0, 0.0, 0.0]
    # non-midnight anchor: bins align to `from`, not the calendar
    r2 = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01 13:00:00), 2.0,
        datetime(2024-01-02 11:00:00), 8.0
      ]
      | make-series s=avg(v)
          on ts from datetime(2024-01-01 12:00:00)
          to datetime(2024-01-03 12:00:00) step 1d
    """).collect()[0]
    assert [b.hour for b in r2["bins"]] == [12, 12]
    # both events fall in the FIRST 12:00-anchored bin
    # (01-01 13:00 and 01-02 11:00 are both < 01-02 12:00)
    assert r2["s"] == [5.0, 0.0]


def test_join_strategy_hints(spark, sf_dir):
    """hint.strategy=broadcast|shuffle maps onto Spark join-strategy
    hints: broadcast forces BroadcastHashJoin, shuffle forces the
    partitioned ShuffledHashJoin even for a tiny dimension."""
    from azure_kusto_parquet_conv_spark.plans import join_strategies
    b = kql(spark, sf_dir, """
      nation | join kind=inner hint.strategy=broadcast region
              on $left.n_regionkey == $right.r_regionkey
    """)
    assert "BroadcastHashJoin" in join_strategies(b)
    s = kql(spark, sf_dir, """
      nation | join kind=inner hint.strategy=shuffle region
              on $left.n_regionkey == $right.r_regionkey
    """)
    st = join_strategies(s)
    assert "ShuffledHashJoin" in st and "BroadcastHashJoin" not in st


def test_parse_url_dynamic_bag(spark, sf_dir):
    """parse_url returns a dynamic bag on VARIANT: scheme/host/path and
    the query-parameter sub-bag are all path-addressable."""
    rows = kql(spark, sf_dir, """
      datatable (u:string) [
        'https://docs.example.com:8443/a/b?lang=fr&x=1#frag',
        'http://plain.org/'
      ]
      | extend d = parse_url(u)
      | project host = tostring(d.Host), path = tostring(d.Path),
                lang = tostring(d.QueryParameters.lang),
                scheme = tostring(d.Scheme)
    """).collect()
    got = sorted((r["host"], r["path"], r["lang"], r["scheme"])
                 for r in rows)
    assert got == [
        ("docs.example.com", "/a/b", "fr", "https"),
        ("plain.org", "/", None, "http"),
    ]


def test_base64_roundtrip(spark, sf_dir):
    rows = kql(spark, sf_dir, """
      datatable (s:string) ['hello', 'Kusto&Spark']
      | extend e = base64_encode_tostring(s)
      | extend back = base64_decode_tostring(e)
    """).collect()
    import base64
    for r in rows:
        assert r["e"] == base64.b64encode(r["s"].encode()).decode()
        assert r["back"] == r["s"]


def test_top_nested_with_others(spark, sf_dir):
    """with others = 'label' on the last level: one extra row per
    parent whose aggregate is RECOMPUTED over all non-winner rows (so
    winners + others == the parent total, even for count)."""
    rows = kql(spark, sf_dir, """
      events
        | top-nested 2 of event_type with others = 'Other'
            by n = count()
    """).collect()
    by_type = {r["event_type"]: r["n"] for r in rows}
    assert len(by_type) == 3 and "Other" in by_type
    total = load_table(spark, sf_dir, "events").count()
    assert sum(by_type.values()) == total
    winners = {k: v for k, v in by_type.items() if k != "Other"}
    assert all(v >= by_type["Other"] / 3 for v in winners.values())
    # nested: others per parent at the inner level
    nested = kql(spark, sf_dir, """
      events
        | extend b = tostring(user_id % 2)
        | top-nested 2 of b by t = count(),
          top-nested 1 of event_type with others = 'Rest' by n = count()
    """).collect()
    per_parent = {}
    for r in nested:
        per_parent.setdefault(r["b"], {})[r["event_type"]] = r["n"]
    assert set(per_parent) == {"0", "1"}
    for b, d in per_parent.items():
        assert "Rest" in d and len(d) == 2
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.where(F.col("user_id") % 2 == 0).count()
    assert sum(per_parent["0"].values()) == t0


def test_mv_apply_to_typeof(spark, sf_dir):
    """mv-apply x to typeof(long): dynamic array elements cast on
    expansion (the standard Kusto typing idiom)."""
    rows = kql(spark, sf_dir, """
      datatable (k:long, j:string) [
        1, '[1, 2, 3]',  2, '[10]'
      ]
      | extend d = parse_json(j)
      | mv-apply v = d to typeof(long) on ( summarize s = sum(v) )
      | project k, s
    """).collect()
    assert sorted(map(tuple, rows)) == [(1, 6), (2, 10)]


def test_union_withsource(spark, sf_dir):
    """union withsource= labels each row's origin table."""
    rows = kql(spark, sf_dir, """
      region
        | union withsource=origin nation
        | summarize n = count() by origin
    """).collect()
    got = {r["origin"]: r["n"] for r in rows}
    assert got == {"$input": 5, "nation": 25}


def test_series_pearson_correlation(spark, sf_dir):
    r = kql(spark, sf_dir, """
      datatable (ts:datetime, a:real, b:real, c:real) [
        datetime(2024-01-01), 1.0, 2.0, 5.0,
        datetime(2024-01-02), 2.0, 4.0, 4.0,
        datetime(2024-01-03), 3.0, 6.0, 3.0,
        datetime(2024-01-04), 4.0, 8.0, 2.0
      ]
      | make-series x=avg(a), y=avg(b), z=avg(c) on ts step 1d
      | extend up = series_pearson_correlation(x, y),
               down = series_pearson_correlation(x, z),
               flat = series_pearson_correlation(x, series_multiply(x, series_subtract(x, x)))
    """).collect()[0]
    assert abs(r["up"] - 1.0) < 1e-12
    assert abs(r["down"] + 1.0) < 1e-12
    assert r["flat"] is None  # zero-variance side -> null


def test_has_all_requires_every_term(spark, sf_dir):
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("alpha delta",)], ["text"])
    comp = KqlCompiler(spark, sf_dir)
    out = comp._apply(df, "where text has_all ('alpha', 'beta')").collect()
    assert [r["text"] for r in out] == ["alpha beta gamma"]


def test_function_let_macro_expansion(spark, sf_dir):
    """let f = (x: type) { body }: scalar user-defined function expanded
    at each call site, composing with scalar lets and nesting."""
    rows = kql(spark, sf_dir, """
      let margin = 0.1;
      let with_tax = (p: real) { p * (1.0 + margin) };
      let double_tax = (p: real) { with_tax(with_tax(p)) };
      datatable (v:real) [100.0, 200.0]
      | extend t = with_tax(v), tt = double_tax(v)
    """).collect()
    got = sorted((round(r["t"], 6), round(r["tt"], 6)) for r in rows)
    assert got == [(110.0, 121.0), (220.0, 242.0)]


def test_function_let_arg_count_checked(spark, sf_dir):
    with pytest.raises(ValueError, match="takes 1 args"):
        kql(spark, sf_dir, """
          let f = (x: long) { x + 1 };
          datatable (v:long) [1] | extend y = f(v, v)
        """)


def test_toscalar_materializes_subquery(spark, sf_dir):
    """toscalar(pipeline): driver-side one-cell materialization into a
    literal — the classic dynamic-threshold idiom."""
    rows = kql(spark, sf_dir, """
      let cutoff = toscalar(orders | summarize avg(o_totalprice));
      orders | where o_totalprice > cutoff | count
    """).collect()
    o = load_table(spark, sf_dir, "orders")
    avg = o.agg(F.avg("o_totalprice")).first()[0]
    assert rows[0]["count_"] == o.where(F.col("o_totalprice") > avg).count()
    # string scalar + inline use without a let
    r2 = kql(spark, sf_dir, """
      events
        | where event_type == toscalar(
            events | summarize n = count() by event_type
                   | top 1 by n | project event_type)
        | count
    """)
    top_n = (load_table(spark, sf_dir, "events")
             .groupBy("event_type").count()
             .orderBy(F.col("count").desc(), F.col("event_type"))
             .first())
    assert r2.collect()[0]["count_"] == top_n["count"]


def test_series_fns_on_all_null_and_empty_edge(spark, sf_dir):
    """Edge: all-null series — fills keep nulls (no anchors), outliers
    pass nulls through, stdev/correlation go null."""
    r = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 1.0,
        datetime(2024-01-03), 1.0
      ]
      | where v > 100
      | union (datatable (ts:datetime, v:real) [
          datetime(2024-01-01), 999.0, datetime(2024-01-03), 999.0 ])
      | where v != 999.0
      | union (datatable (ts:datetime, w:real) [
          datetime(2024-01-01), 1.0, datetime(2024-01-03), 2.0 ])
      | make-series s=avg(v) default=null, t=avg(w) on ts step 1d
      | extend ff = series_fill_forward(s), lin = series_fill_linear(s),
               o = series_outliers(s), sd = series_stdev(s),
               r = series_pearson_correlation(s, t)
    """).collect()[0]
    assert r["s"] == [None, None, None]
    assert r["ff"] == [None, None, None]
    assert r["lin"] == [None, None, None]
    assert r["o"] == [None, None, None]
    assert r["sd"] is None and r["r"] is None


def test_make_series_empty_range(spark, sf_dir):
    """Edge: to <= from yields zero rows (empty grid), not an error."""
    row = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [datetime(2024-01-05), 1.0]
      | make-series s=avg(v)
          on ts from datetime(2024-02-01) to datetime(2024-02-01) step 1d
    """).collect()
    # ungrouped make-series over an empty range: one row, empty arrays
    assert len(row) == 1 and row[0]["s"] == [] and row[0]["bins"] == []


def test_scan_desc_order_and_first_row_multi_step(spark, sf_dir):
    """Edge: scan under a DESC serialized order walks rows in that
    order; a row matching several step predicates advances exactly one
    step (the next expected one); after completion a row matching the
    final step again EXTENDS the match (repeated-step semantics)."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (u:long, t:long, e:string) [
        1, 3, 'a',  1, 2, 'both',  1, 1, 'b'
      ]
      | partition by u (
          sort by t desc
          | scan with (step s1: e == 'a' or e == 'both';
                       step s2: e == 'b' or e == 'both';)
        )
    """).collect()))
    # t desc: 'a'(s1) -> 'both' matches s2 (advance, complete) ->
    # 'b' re-matches s2 (extend, same match)
    assert rows == [(1, 1, "b", "s2", 0), (1, 2, "both", "s2", 0),
                    (1, 3, "a", "s1", 0)]


def test_search_no_string_columns_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="no string columns"):
        kql(spark, sf_dir, "datatable (n:long) [1] | search 'x'")


def test_mv_expand_zip_null_and_empty_arrays(spark, sf_dir):
    """Edge: zipped mv-expand with one null array keeps the other's
    length; all-empty arrays drop the row (Kusto)."""
    rows = kql(spark, sf_dir, """
      datatable (k:long, j:string) [ 1, '[1,2]' ]
      | extend a = parse_json(j)
      | mv-expand va = a to typeof(long)
    """).collect()
    assert sorted(r["va"] for r in rows) == [1, 2]


def test_mv_expand_zip_all_empty_drops_row(spark, sf_dir):
    """Review fix: zipped mv-expand over all-empty arrays drops the row
    (sequence(1,0) would otherwise DESCEND and crash on index 0)."""
    rows = kql(spark, sf_dir, """
      datatable (k:long, i:string, j:string) [
        1, '[]', '[]',  2, '[7]', '[]'
      ]
      | extend a = parse_json(i), b = parse_json(j)
      | mv-expand va = a to typeof(long), vb = b to typeof(long)
      | project k, va, vb
    """).collect()
    assert sorted(map(tuple, rows)) == [(2, 7, None)]


def test_toscalar_datetime_roundtrip(spark, sf_dir):
    """Review fix: a datetime toscalar result renders as a KQL
    datetime(...) literal that re-parses (incl. inside make-series
    from/to)."""
    got = kql(spark, sf_dir, """
      let t0 = toscalar(events | summarize max(ts));
      events | where ts == t0 | count
    """).collect()[0]["count_"]
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).first()[0]
    assert got == ev.where(F.col("ts") == mx).count() >= 1


def test_toscalar_nested_and_string_escape(spark, sf_dir):
    """Review fix: nested toscalar resolves inside-out without text
    corruption; string results with quotes escape correctly."""
    got = kql(spark, sf_dir, """
      datatable (v:long) [1, 2, 3, 4]
      | where v > toscalar(
          datatable (w:long) [1, 2, 3, 4]
          | where w > toscalar(datatable (u:long) [2] | summarize max(u))
          | summarize min(w))
      | count
    """).collect()[0]["count_"]
    assert got == 1  # inner -> 2, mid -> min(3,4)=3, outer -> v>3
    s = kql(spark, sf_dir, """
      let name = toscalar(datatable (s:string) ['it\\'s'] | project s);
      datatable (t:string) ['it\\'s', 'other'] | where t == name | count
    """).collect()[0]["count_"]
    assert s == 1


def test_function_let_param_shadows_scalar_let(spark, sf_dir):
    """Review fix: a function parameter named like an earlier scalar
    let binds the ARGUMENT, not the let."""
    rows = kql(spark, sf_dir, """
      let x = 5;
      let f = (x: long) { x + 1 };
      datatable (v:long) [10] | extend y = f(v), z = x
    """).collect()
    assert rows[0]["y"] == 11 and rows[0]["z"] == 5


def test_evaluate_autocluster(spark, sf_dir):
    """autocluster: exact cube enumeration of attribute patterns with
    coverage >= min_percent; wildcards are nulls, the all-wildcard row
    is excluded, and single-attribute patterns agree with plain
    group-by percentages."""
    df = kql(spark, sf_dir, """
      events
        | extend dow = tostring(dayofweek(ts) / 1d)
        | project event_type, dow
        | evaluate autocluster(2.0)
    """)
    rows = df.collect()
    assert set(df.columns) == {"event_type", "dow", "count",
                               "percent", "specificity"}
    assert all(1 <= r["specificity"] <= 2 for r in rows)
    assert all(r["percent"] >= 2.0 for r in rows)
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    want_types = {r["event_type"]: round(r["count"] * 100.0 / total, 4)
                  for r in ev.groupBy("event_type").count().collect()}
    got_types = {r["event_type"]: r["percent"] for r in rows
                 if r["dow"] is None and r["event_type"] is not None}
    for t, pct in want_types.items():
        if pct >= 2.0:
            assert got_types[t] == pct


def test_evaluate_diffpatterns(spark, sf_dir):
    """diffpatterns: cohort-coverage differences per attribute pattern;
    a planted skew shows up with the right signed difference."""
    rows = kql(spark, sf_dir, """
      datatable (g:string, x:string, y:string) [
        'A', 'p', 'u',  'A', 'p', 'u',  'A', 'p', 'v',  'A', 'q', 'u',
        'B', 'q', 'v',  'B', 'q', 'v',  'B', 'q', 'u',  'B', 'p', 'v'
      ]
      | evaluate diffpatterns(g, 'A', 'B', 10.0)
    """).collect()
    d = {(r["x"], r["y"]): r["percent_diff"] for r in rows}
    # x='p' wildcard-y: 75% of A vs 25% of B -> +50
    assert d[("p", None)] == 50.0
    assert d[("q", None)] == -50.0
    # totals are cohort-relative
    for r in rows:
        assert r["count_a"] + r["count_b"] >= 1
        assert r["specificity"] >= 1


def test_pack_builds_dynamic_bag(spark, sf_dir):
    """pack/bag_pack: literal-keyed dynamic bag, path-addressable and
    round-trippable through bag_unpack."""
    rows = kql(spark, sf_dir, """
      datatable (a:long, s:string) [1, 'x', 2, 'y']
      | extend d = pack('id', a * 10, 'tag', s)
      | project v = tolong(d.id), t = tostring(d.tag)
    """).collect()
    assert sorted(map(tuple, rows)) == [(10, "x"), (20, "y")]
    with pytest.raises(ValueError, match="string literals"):
        kql(spark, sf_dir,
            "datatable (a:long) [1] | extend d = pack(a, 1)")


# ------------------------------------------------- round-6 advice pins

def test_parse_url_port_extracted(spark, sf_dir):
    """parse_url must surface the Port (r6 advice: Spark's parse_url
    has no PORT part — it comes from the AUTHORITY's ':NNNN' suffix);
    portless URLs keep Port absent (null path access)."""
    rows = kql(spark, sf_dir, """
      datatable (u:string) [
        'https://h.example.com:8443/a?x=1',
        'http://plain.org/x',
        'https://user:pw@auth.example.com:9090/p'
      ]
      | extend d = parse_url(u)
      | project host = tostring(d.Host), port = tostring(d.Port)
    """).collect()
    got = sorted((r["host"], r["port"]) for r in rows)
    assert got == [
        ("auth.example.com", "9090"),
        ("h.example.com", "8443"),
        ("plain.org", None),
    ]


def test_variant_compare_numeric_compound_with_string_fn(spark, sf_dir):
    """A NUMERIC compound operand that merely mentions a
    string-producing function (r6 advice: the old surface-text guess
    saw 'tostring' and miscast the variant side to STRING, turning
    10 > 6 into '10' > '6' = false). The type is now resolved from the
    DataFrame schema."""
    rows = kql(spark, sf_dir, """
      datatable (j:string, s:string) ['{"k": 10}', 'abcde']
      | extend d = todynamic(j)
      | where d.k > strlen(tostring(s)) + 1
      | project k = tolong(d.k)
    """).collect()
    assert [r["k"] for r in rows] == [10]


def test_function_let_many_call_sites_converges(spark, sf_dir):
    """>200 call sites of a non-recursive function-let must expand (r6
    advice: the old fixed 200-pass cap falsely tripped 'recursive')."""
    n = 205
    body = " + ".join(["f(v)"] * n)
    rows = kql(spark, sf_dir, f"""
      let f = (x: long) {{ x + 1 }};
      datatable (v:long) [1] | extend y = {body}
    """).collect()
    assert rows[0]["y"] == 2 * n


def test_function_let_recursion_detected(spark, sf_dir):
    """True recursion (direct and mutual) raises up front instead of
    burning the pass cap."""
    with pytest.raises(ValueError, match="recursive function-let"):
        kql(spark, sf_dir, """
          let f = (x: long) { f(x) + 1 };
          datatable (v:long) [1] | extend y = f(v)
        """)
    with pytest.raises(ValueError, match="recursive function-let"):
        kql(spark, sf_dir, """
          let f = (x: long) { g(x) };
          let g = (x: long) { f(x) };
          datatable (v:long) [1] | extend y = f(v)
        """)


def test_toscalar_nonfinite_roundtrip(spark, sf_dir):
    """toscalar() of inf/nan must re-enter the query as a working
    literal (r6 advice: repr() emitted bare 'inf'/'nan' identifiers)."""
    import math
    r = kql(spark, sf_dir, """
      let c = toscalar(print x = toreal('+inf'));
      datatable (v:real) [1.0, 2.0] | where v < c | count
    """).collect()
    assert r[0][0] == 2
    r2 = kql(spark, sf_dir, """
      print x = toscalar(print y = toreal('nan'))
    """).collect()
    assert math.isnan(r2[0]["x"])
    r3 = kql(spark, sf_dir, """
      let c = toscalar(print x = toreal('-inf'));
      datatable (v:real) [1.0] | where v > c | count
    """).collect()
    assert r3[0][0] == 1


def test_mv_apply_post_shuffle_input(spark, sf_dir):
    """mv-apply fed POST-SHUFFLE data (a summarize upstream) must stay
    correct — the compiler freezes the input with localCheckpoint
    before assigning record ids (SPARK-23207 enforcement, r5 verdict
    demand #5)."""
    out = kql(spark, sf_dir, """
      events
        | summarize vals = make_list(value) by event_type
        | mv-apply v = vals to typeof(real) on ( summarize mx = max(v) )
        | project event_type, mx
    """)
    want = {(r["event_type"], r["mx"]) for r in
            load_table(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.max("value").alias("mx"))
            .collect()}
    got = {(r["event_type"], float(r["mx"])) for r in out.collect()}
    assert got == want


def test_hll_merge_associative_across_shardings(spark, sf_dir):
    """r5 verdict demand #7: the HLL sketch algebra must be
    merge-associative and partition-insensitive — re-aggregating
    per-shard sketches gives the SAME estimate for any shard fan-out
    and any physical partitioning (register-wise max is order-free).
    This is the property that makes sketch stores re-aggregable at
    100 TB."""
    ests = []
    for shards in (3, 7, 13):
        r = kql(spark, sf_dir, f"""
          events
            | summarize sk = hll(user_id) by event_type,
                        shard = user_id % {shards}
            | summarize est = dcount_hll(hll_merge(sk)) by event_type
            | sort by event_type asc
        """).collect()
        ests.append([(x["event_type"], x["est"]) for x in r])
    assert ests[0] == ests[1] == ests[2]
    # physical-layout insensitivity of the same two-level merge
    ev = load_table(spark, sf_dir, "events")
    outs = []
    for parts in (2, 32):
        sk = (ev.repartition(parts, "event_type")
                .groupBy("event_type", (F.col("user_id") % 5).alias("s"))
                .agg(F.expr("hll_sketch_agg(user_id)").alias("sk")))
        est = (sk.groupBy("event_type")
                 .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))")
                       .alias("est"))
                 .orderBy("event_type").collect())
        outs.append([(r["event_type"], r["est"]) for r in est])
    assert outs[0] == outs[1]
    assert [e for _, e in ests[0]] == [e for _, e in outs[0]]


@pytest.mark.parametrize("seed", [7, 99, 4242])
def test_scan_property_random_orders(spark, sf_dir, seed):
    """r5 verdict demand #7: property-test the scan automaton against
    the brute-force Python reference on RANDOMIZED event streams —
    random types, duplicate timestamps (tie-break on id), multiple
    users, arrival order shuffled (the operator must impose serialized
    order itself)."""
    import random
    rnd = random.Random(seed)
    types = ["signup", "click", "purchase", "view", "error"]
    rows = []
    for i in range(400):
        rows.append((rnd.randrange(12),            # user
                     rnd.randrange(40),            # ts with many ties
                     i,                            # unique id
                     rnd.choice(types)))
    rnd.shuffle(rows)
    cells = ", ".join(f"{u}, {t}, {i}, '{e}'" for u, t, i, e in rows)
    got = kql(spark, sf_dir, f"""
      datatable (u:long, t:long, id:long, e:string) [{cells}]
        | partition by u (
            sort by t asc, id asc
            | scan with (step s0: e == 'signup';
                         step s1: e == 'click' or e == 'view';
                         step s2: e == 'purchase';)
          )
    """).select("u", "id", "step", "match_id").collect()
    got_set = {(r["u"], r["id"], r["step"], r["match_id"]) for r in got}
    preds = [lambda e: e == "signup",
             lambda e: e in ("click", "view"),
             lambda e: e == "purchase"]
    names = ["s0", "s1", "s2"]
    from collections import defaultdict
    by_user = defaultdict(list)
    for u, t, i, e in rows:
        by_user[u].append((t, i, e))
    want = set()
    for u, rs in by_user.items():
        rs.sort()
        k, mid = 0, 0
        for _, i, e in rs:
            if k < 3 and preds[k](e):
                want.add((u, i, names[k], mid))
                k += 1
            elif k > 0 and preds[k - 1](e):
                want.add((u, i, names[k - 1], mid))
            elif k == 3 and preds[0](e):
                mid += 1
                want.add((u, i, names[0], mid))
                k = 1
    assert got_set == want and len(want) > 0


def test_series_fit_line_dynamic_exact_and_nulls(spark, sf_dir):
    """series_fit_line_dynamic: exact least squares on a perfect line
    (slope/interception recovered, rsquare 1, line_fit == input), nulls
    skipped WITHOUT collapsing indices, degenerate series -> nulls."""
    r = kql(spark, sf_dir, """
      print y = pack_array(1.0, 3.0, 5.0, 7.0)
        | extend f = series_fit_line_dynamic(y)
        | project slope = todouble(f.slope),
                  icept = todouble(f.interception),
                  rsq = todouble(f.rsquare),
                  rvar = todouble(f.rvariance)
    """).collect()[0]
    assert (r["slope"], r["icept"], r["rsq"], r["rvar"]) == (2.0, 1.0,
                                                             1.0, 0.0)
    # y = 10 - x with the x=1 point missing (make-series leaves a null
    # bin): indices must stay aligned across the gap
    r2 = kql(spark, sf_dir, """
      datatable (ts:datetime, v:real) [
        datetime(2024-01-01), 10.0,
        datetime(2024-01-03), 8.0,
        datetime(2024-01-04), 7.0 ]
        | make-series y = avg(v) default=null on ts step 1d
        | extend f = series_fit_line_dynamic(y)
        | project s = todouble(f.slope), i = todouble(f.interception)
    """).collect()[0]
    assert round(r2["s"], 6) == -1.0 and round(r2["i"], 6) == 10.0
    # single point: no line
    r3 = kql(spark, sf_dir, """
      print y = pack_array(5.0)
        | extend f = series_fit_line_dynamic(y)
        | project s = todouble(f.slope)
    """).collect()[0]
    assert r3["s"] is None


def test_series_decompose_forecast_linear_exact(spark, sf_dir):
    """Linear-trend forecast: a perfect line extends exactly; the
    seasonal variant adds the zero-sum phase component periodically
    into the forecast horizon."""
    r = kql(spark, sf_dir, """
      print y = pack_array(1.0, 3.0, 5.0, 7.0)
        | extend fc = series_decompose_forecast(y, 3)
        | mv-expand v = fc to typeof(real)
        | summarize vals = make_list(v)
    """).collect()[0]
    assert [round(v, 6) for v in r["vals"]] == [1.0, 3.0, 5.0, 7.0,
                                                9.0, 11.0, 13.0]
    # seasonal variant: verify against the documented closed form
    # (least-squares trend on the raw series + zero-sum phase means)
    y = [11.0, 9.0, 11.0, 9.0, 11.0, 9.0, 11.0, 9.0]
    n, p = len(y), 2
    xm, ym = (n - 1) / 2, sum(y) / n
    sl = (sum((i - xm) * (v - ym) for i, v in enumerate(y))
          / sum((i - xm) ** 2 for i in range(n)))
    ic = ym - sl * xm
    ph = [sum(y[i] for i in range(k, n, p)) / (n // p) - ym
          for k in range(p)]
    want = [round(ic + sl * i + ph[i % p], 6) for i in range(n + 2)]
    r2 = kql(spark, sf_dir, """
      print y = pack_array(11.0, 9.0, 11.0, 9.0, 11.0, 9.0, 11.0, 9.0)
        | extend fc = series_decompose_forecast(y, 2, 2)
        | mv-expand v = fc to typeof(real)
        | summarize vals = make_list(v)
    """).collect()[0]
    assert [round(v, 6) for v in r2["vals"]] == want


def test_evaluate_narrow_rotation(spark, sf_dir):
    """evaluate narrow(): (Row, Column, Value) triples, serialized row
    ids from the preceding sort, complex values as JSON, and an
    argument is rejected."""
    rows = kql(spark, sf_dir, """
      datatable (k:long, s:string) [2, 'b', 1, 'a']
        | sort by k asc
        | evaluate narrow()
    """).collect()
    got = sorted((r["Row"], r["Column"], r["Value"]) for r in rows)
    assert got == [(0, "k", "1"), (0, "s", "a"),
                   (1, "k", "2"), (1, "s", "b")]
    arr = kql(spark, sf_dir, """
      print a = pack_array(1, 2) | sort by 1 asc | evaluate narrow()
    """).collect()
    assert any(r["Value"] == "[1,2]" for r in arr)
    with pytest.raises(ValueError, match="takes no args"):
        kql(spark, sf_dir, "nation | evaluate narrow(x)")


def test_scalar_fn_batch_r6(spark, sf_dir):
    """round-6 scalar surface: split (literal delimiter, 3-arg contract),
    translate (Kusto arg order), url_encode/component/decode, binary
    bit ops (64-bit shifts), parse_version normalization,
    IPv4 family, datetime_add/datetime_diff boundary semantics."""
    r = kql(spark, sf_dir, """
      print s = 'a|b|c'
        | extend parts = split(s, '|'),
                 one = strcat_array(split(s, '|', 1), ''),
                 oob = array_length(split(s, '|', 9)),
                 tr = translate('abc', 'xyz', 'aabbcc'),
                 ue = url_encode('a b/c'),
                 uc = url_encode_component('a b/c'),
                 ud = url_decode('a%20b%2Fc'),
                 bsl = binary_shift_left(1, 33),
                 pv = tostring(parse_version('1.2.3.4')),
                 pvpad = tostring(parse_version('10.0')),
                 pvbad = parse_version('1.x'),
                 ip = parse_ipv4('192.168.1.5'),
                 ipm = parse_ipv4('192.168.1.5/24'),
                 ipm2 = parse_ipv4_mask('10.1.2.3', 16),
                 ipbad = parse_ipv4('256.1.1.1'),
                 ipgarb = parse_ipv4('1.2.3.4/garbage'),
                 ipbigp = parse_ipv4('1.2.3.4/40'),
                 ipemptyp = parse_ipv4('10.1.2.3/'),
                 inrgarb = ipv4_is_in_range('10.1.2.3',
                                            '10.1.0.0/zz'),
                 priv = ipv4_is_private('172.20.0.1'),
                 pub = ipv4_is_private('172.32.0.1'),
                 inr = ipv4_is_in_range('10.1.2.3', '10.1.0.0/16'),
                 outr = ipv4_is_in_range('10.2.2.3', '10.1.0.0/16')
    """).collect()[0]
    assert r["parts"] == ["a", "b", "c"] and r["one"] == "b"
    assert r["oob"] == 0
    assert r["tr"] == "xxyyzz"
    assert (r["ue"], r["uc"], r["ud"]) == ("a+b%2Fc", "a%20b%2Fc",
                                           "a b/c")
    assert r["bsl"] == 2 ** 33  # no 32-bit wrap
    assert r["pv"] == "1000000020000000300000004"
    assert r["pvpad"] == "10000000000000000000000000"
    assert r["pvbad"] is None
    assert (r["ip"], r["ipm"], r["ipm2"]) == (3232235781, 3232235776,
                                              167837696)
    assert r["ipbad"] is None
    # malformed or out-of-range '/prefix' -> null, NOT a /32 fallback
    # (r6 advice); empty suffix after '/' still defaults to /32
    assert r["ipgarb"] is None and r["ipbigp"] is None
    assert r["ipemptyp"] == 167838211
    assert r["inrgarb"] is None
    assert (r["priv"], r["pub"]) == (True, False)
    assert (r["inr"], r["outr"]) == (True, False)
    d = kql(spark, sf_dir, """
      print x = 1
        | extend dm = datetime_add('month', 1, datetime(2024-01-31)),
                 dy = datetime_diff('year', datetime(2024-01-01),
                                    datetime(2023-12-31)),
                 dh = datetime_diff('hour', datetime(2024-01-01 05:59:00),
                                    datetime(2024-01-01 04:01:00)),
                 dw = datetime_diff('week', datetime(2024-01-07),
                                    datetime(2024-01-06)),
                 dneg = datetime_diff('day', datetime(2024-01-01),
                                      datetime(2024-01-03))
    """).collect()[0]
    assert str(d["dm"]).startswith("2024-02-29")  # clamped month add
    assert (d["dy"], d["dh"], d["dw"], d["dneg"]) == (1, 1, 1, -2)
    with pytest.raises(ValueError, match="literal period"):
        kql(spark, sf_dir,
            "print x = 1 | extend y = datetime_diff(x, now(), now())")


def test_row_rank_dense_and_min(spark, sf_dir):
    """row_rank_dense / row_rank_min: serialized run-based ranks —
    dense advances on Term changes (null-safe; rank starts at 1 even
    for a leading null), min is the first row number of the run;
    partition-by scopes both; both require serialized order."""
    rows = kql(spark, sf_dir, """
      datatable (id:long, t:string) [
        1,'a', 2,'a', 3,'b', 4,'b', 5,'a', 6,'c']
        | sort by id asc
        | extend rd = row_rank_dense(t), rm = row_rank_min(t)
    """).collect()
    assert sorted((r["id"], r["rd"], r["rm"]) for r in rows) == [
        (1, 1, 1), (2, 1, 1), (3, 2, 3), (4, 2, 3), (5, 3, 5),
        (6, 4, 6)]
    # leading null Term still ranks 1; null==null is not a change
    rows = kql(spark, sf_dir, """
      datatable (id:long, v:real) [1, 0.0, 2, 0.0, 3, 1.0]
        | extend t = iff(v == 0.0, tostring(v), tostring(todouble('')))
        | sort by id asc
        | extend rd = row_rank_dense(t)
    """).collect()
    assert sorted((r["id"], r["rd"]) for r in rows) == [
        (1, 1), (2, 1), (3, 2)]
    with pytest.raises(ValueError, match="sort by"):
        kql(spark, sf_dir,
            "datatable (x:long) [1] | extend r = row_rank_dense(x)")
    rows = kql(spark, sf_dir, """
      datatable (g:long, id:long, t:string) [
        1,1,'a', 1,2,'a', 1,3,'b', 2,1,'x', 2,2,'x']
        | partition by g (
            sort by id asc
            | extend rd = row_rank_dense(t), rm = row_rank_min(t) )
    """).collect()
    assert sorted((r["g"], r["id"], r["rd"], r["rm"]) for r in rows) \
        == [(1, 1, 1, 1), (1, 2, 1, 1), (1, 3, 2, 3),
            (2, 1, 1, 1), (2, 2, 1, 1)]


def test_conversion_fns_null_on_invalid(spark, sf_dir):
    """Kusto to*() conversions return null on unconvertible input —
    plain ANSI CAST would kill the query (r6 parity fix)."""
    r = kql(spark, sf_dir, """
      print x = 1
        | extend a = toint('abc'), b = tolong(''), c = todouble('x'),
                 d = todatetime('not a date'), e = tobool('maybe'),
                 f = toint('7'), g = todouble('2.5')
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (None,) * 5
    assert (r["f"], r["g"]) == (7, 2.5)


def test_variant_in_between_and_string_ops(spark, sf_dir):
    """Variant paths in IN lists, between, and string operators (=~,
    contains, has) — each needs the loose-compare cast (raw VARIANT
    fails Spark analysis where Kusto compares loosely)."""
    r = kql(spark, sf_dir, """
      print j = '{"k": 2, "s": "Hello World", "t": "b"}'
        | extend d = todynamic(j)
        | extend a = iff(d.k in (1, 2, 3), 1, 0),
                 b = iff(d.t in ('a', 'b'), 1, 0),
                 c = iff(d.k !in (7, 9), 1, 0),
                 e = iff(d.k between (1 .. 3), 1, 0),
                 f = iff(d.s contains 'WORLD', 1, 0),
                 g = iff(d.s has 'hello', 1, 0),
                 h = iff(d.t =~ 'B', 1, 0),
                 i = iff(d.s startswith 'he', 1, 0),
                 j2 = iff(d.s has_any ('xyz', 'world'), 1, 0)
    """).collect()[0]
    assert [r[c] for c in "abcefghi"] + [r["j2"]] == [1] * 9


def test_find_cross_table(spark, sf_dir):
    """find in (T1, T2) where pred: null-filled union by name with a
    source column, predicate over common columns; withsource renames
    the origin column."""
    rows = kql(spark, sf_dir, """
      find in (region, nation) where n_regionkey == 0 or r_regionkey == 0
    """).collect()
    srcs = {r["source_"] for r in rows}
    assert srcs == {"region", "nation"}
    for r in rows:
        if r["source_"] == "region":
            assert r["r_regionkey"] == 0 and r["n_name"] is None
        else:
            assert r["n_regionkey"] == 0 and r["r_name"] is None
    named = kql(spark, sf_dir, """
      find withsource=origin in (region, nation)
        where r_regionkey == 1 or n_regionkey == 1
      | summarize n = count() by origin
    """).collect()
    assert {r["origin"] for r in named} == {"region", "nation"}
    with pytest.raises(ValueError, match="at least one table"):
        kql(spark, sf_dir, "find in () where 1 == 1")


def test_series_fit_2lines_exact_and_vs_reference(spark, sf_dir):
    """series_fit_2lines_dynamic: exact recovery of a clean two-segment
    series, and argmin-split agreement with a brute-force Python
    least-squares reference on a noisy seeded series."""
    r = kql(spark, sf_dir, """
      print y = pack_array(1.0, 1.0, 1.0, 2.0, 4.0, 6.0)
        | extend f = series_fit_2lines_dynamic(y)
        | project k = toint(f.split_idx), rsq = todouble(f.rsquare),
                  lsl = todouble(f.left.slope),
                  rsl = todouble(f.right.slope)
    """).collect()[0]
    assert (r["k"], r["rsq"], r["lsl"], r["rsl"]) == (3, 1.0, 0.0, 2.0)

    import random
    rnd = random.Random(11)
    y = [5.0 + 0.2 * i + rnd.gauss(0, 0.3) for i in range(12)]
    y += [7.4 - 1.5 * (i - 11) + rnd.gauss(0, 0.3) for i in range(12, 25)]

    def fit(pts):
        n = len(pts)
        if n < 2:
            return 0.0, (pts[0][1] if n else 0.0), 0.0
        sx = sum(i for i, _ in pts); sy = sum(v for _, v in pts)
        sxx = sum(i * i for i, _ in pts)
        sxy = sum(i * v for i, v in pts)
        den = n * sxx - sx * sx
        b = (n * sxy - sx * sy) / den if den else 0.0
        a = (sy - b * sx) / n
        return b, a, sum((v - (a + b * i)) ** 2 for i, v in pts)

    pts = list(enumerate(y))
    want_k = min(range(1, len(y)),
                 key=lambda k: fit(pts[:k])[2] + fit(pts[k:])[2])
    cells = ", ".join(f"{v!r}" for v in y)
    got = kql(spark, sf_dir, f"""
      print y = pack_array({cells})
        | extend f = series_fit_2lines_dynamic(y)
        | project k = toint(f.split_idx),
                  lsl = todouble(f.left.slope),
                  rsl = todouble(f.right.slope)
    """).collect()[0]
    assert got["k"] == want_k
    bl, _, _ = fit(pts[:want_k]); br, _, _ = fit(pts[want_k:])
    assert round(got["lsl"], 6) == round(bl, 6)
    assert round(got["rsl"], 6) == round(br, 6)


def test_scalar_and_agg_batch2_r6(spark, sf_dir):
    """round-6 batch 2: numeric predicates (isnan/isinf/isfinite),
    tohex lowercase, strcmp, string_size (bytes), repeat, new_guid,
    bounded rand(n), quote-aware parse_csv, bitwise-reduction
    aggregates, conditional collection aggregates."""
    r = kql(spark, sf_dir, """
      print x = 1
        | extend a = isnan(todouble('nan')), b = isinf(toreal('+inf')),
                 c = isfinite(2.5), d = isfinite(toreal('nan')),
                 h = tohex(255), s1 = strcmp('a', 'b'),
                 s3 = strcmp('a', 'a'), sz = string_size('héllo'),
                 rp = repeat(7, 3), g1 = strlen(new_guid()),
                 rn = rand(10),
                 csv = parse_csv('a,"b,c",",x",""')
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (True, True, True, False)
    assert r["h"] == "ff" and (r["s1"], r["s3"]) == (-1, 0)
    assert r["sz"] == 6          # é is 2 bytes; strlen would say 5
    assert r["rp"] == [7, 7, 7] and r["g1"] == 36
    assert 0 <= r["rn"] < 10
    assert r["csv"] == ["a", "b,c", ",x", ""]
    rows = kql(spark, sf_dir, """
      datatable (g:string, v:long) ['a',12, 'a',10, 'b',7, 'b',5, 'a',3]
        | summarize ba = binary_all_and(v), bo = binary_all_or(v),
                    bx = binary_all_xor(v),
                    ml = make_list_if(v, v > 4), ms = make_set_if(v, v > 6)
            by g
    """).collect()
    got = {r["g"]: (r["ba"], r["bo"], r["bx"], sorted(r["ml"]),
                    sorted(r["ms"])) for r in rows}
    assert got == {"a": (0, 15, 5, [10, 12], [10, 12]),
                   "b": (5, 7, 2, [5, 7], [7])}


def test_sequence_detect_fixture(spark, sf_dir):
    """evaluate sequence_detect: completes within gap+window, rejects
    gap violations, restarts on a step-1 match, emits one row per
    completed sequence with per-step timestamps."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime, e:string) [
        1, datetime(2024-01-01 10:00:00), 'signup',
        1, datetime(2024-01-01 10:05:00), 'click',
        1, datetime(2024-01-01 10:07:00), 'purchase',
        2, datetime(2024-01-01 09:00:00), 'signup',
        2, datetime(2024-01-01 11:30:00), 'click',
        3, datetime(2024-01-01 09:00:00), 'click',
        3, datetime(2024-01-01 09:01:00), 'signup',
        3, datetime(2024-01-01 09:02:00), 'click',
        3, datetime(2024-01-01 09:03:00), 'purchase',
        3, datetime(2024-01-01 09:10:00), 'signup',
        3, datetime(2024-01-01 09:11:00), 'click',
        3, datetime(2024-01-01 09:12:00), 'purchase'
      ]
      | evaluate sequence_detect(ts, 30m, 1h,
          s1 = e == 'signup', s2 = e == 'click',
          s3 = e == 'purchase', u)
    """).collect()
    got = sorted((r["u"], str(r["s1_ts"])) for r in rows)
    assert got == [(1, "2024-01-01 10:00:00"),
                   (3, "2024-01-01 09:01:00"),
                   (3, "2024-01-01 09:10:00")]
    with pytest.raises(ValueError, match=">= 2 steps"):
        kql(spark, sf_dir, """
          datatable (ts:datetime, e:string) [datetime(2024-01-01), 'a']
            | evaluate sequence_detect(ts, 1m, 2m, s1 = e == 'a', e)
        """)


def test_sequence_detect_latest_start_restart_semantics(spark, sf_dir):
    """Pins the documented LATEST-START greedy contract (r6 advice:
    the reset-on-step-1 behavior was unpinned): a mid-sequence step-1
    match RESTARTS the automaton there. Two faces of the tradeoff:
    (1) 2-step funnel where only the later start satisfies maxWindow —
    latest-start finds it, keep-earliest would not; (2) 3-step
    sequence where a stray step-1 match discards a valid a,b prefix —
    latest-start deliberately emits nothing."""
    # (1) a@10:00, a@10:40, b@10:50 with maxGap 30m, maxWindow 15m:
    # from 10:00 the window (50m) fails; restart at 10:40 matches.
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime, e:string) [
        1, datetime(2024-01-01 10:00:00), 'a',
        1, datetime(2024-01-01 10:40:00), 'a',
        1, datetime(2024-01-01 10:50:00), 'b'
      ]
      | evaluate sequence_detect(ts, 30m, 15m,
          s1 = e == 'a', s2 = e == 'b', u)
    """).collect()
    assert [(str(r["s1_ts"]), str(r["s2_ts"])) for r in rows] == [
        ("2024-01-01 10:40:00", "2024-01-01 10:50:00")]
    # (2) a@0m, b@1m, a@2m, c@3m: the stray 'a' resets the (a,b)
    # prefix, so no (a,b,c) completes — the documented cost of
    # single-sequence latest-start for 3+ steps.
    rows3 = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime, e:string) [
        1, datetime(2024-01-01 10:00:00), 'a',
        1, datetime(2024-01-01 10:01:00), 'b',
        1, datetime(2024-01-01 10:02:00), 'a',
        1, datetime(2024-01-01 10:03:00), 'c'
      ]
      | evaluate sequence_detect(ts, 30m, 1h,
          s1 = e == 'a', s2 = e == 'b', s3 = e == 'c', u)
    """).collect()
    assert rows3 == []


def test_sequence_detect_same_time_tie_order(spark, sf_dir):
    """A signup and a purchase at the same microsecond for one key
    resolve one way: rows sort by (time, step bitmask), the streaming
    twin's buffer order, whatever order the shuffle delivers them in.
    The datatable lists each purchase first; the answer is the same at
    1 and 8 shuffle partitions and equals the shared automaton stepped
    in the stream's order."""
    from azure_kusto_parquet_conv_spark.operators import automata

    cells, events = [], []
    for u in range(8):
        t = 1_704_067_200_000_000 + u * 60_000_000
        for e, mask in (("purchase", 2), ("signup", 1)):
            cells.append(f"{u}, unixtime_microseconds_todatetime({t}), "
                         f"'{e}'")
            events.append((u, t, mask))
    q = f"""
      datatable (u:long, ts:datetime, e:string) [{", ".join(cells)}]
      | evaluate sequence_detect(ts, 1h, 1d,
          a = e == 'signup', b = e == 'purchase', u)
      | project u, a = unix_micros(a_ts), b = unix_micros(b_ts)
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    got = {}
    try:
        for n in ("1", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            got[n] = sorted(tuple(r) for r in kql(spark, sf_dir, q).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    init, step = automata.sequence_detect(2, 3_600_000_000, 86_400_000_000)
    want = []
    for u in range(8):
        state = init
        for _, t, mask in sorted(e for e in events if e[0] == u):
            state, out = step(state, (t, mask))
            if out is not None:
                want.append((u, *out))
    assert len(want) == 8
    assert got["1"] == got["8"] == want


def test_sequence_detect_matches_python_reference(spark, sf_dir):
    """Differential on real events: the distributed sequence_detect
    equals a brute-force Python automaton with the same documented
    greedy/gap/window/restart semantics."""
    got = kql(spark, sf_dir, """
      events
        | evaluate sequence_detect(ts, 12h, 1d,
            a = event_type == 'signup', b = event_type == 'purchase',
            user_id)
    """).collect()
    got_set = {(r["user_id"], str(r["a_ts"]), str(r["b_ts"]))
               for r in got}

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "ts", F.unix_micros("ts").alias("us"),
                  "event_type").collect())
    from collections import defaultdict
    by_u = defaultdict(list)
    for r in ev:
        by_u[r["user_id"]].append(r)
    gap, win = 12 * 3600 * 10**6, 24 * 3600 * 10**6
    want = set()
    for u, rs in by_u.items():
        rs.sort(key=lambda r: r["us"])
        k, first, prev, tss = 0, 0, 0, []
        for r in rs:
            is_a = r["event_type"] == "signup"
            is_b = r["event_type"] == "purchase"
            t = r["us"]
            if k == 1 and is_b and t - prev <= gap and t - first <= win:
                want.add((u, str(tss[0]), str(r["ts"])))
                k, tss = 0, []
            elif is_a:
                k, first, prev, tss = 1, t, t, [r["ts"]]
    assert len(want) > 0
    assert got_set == want


def test_reduce_by_log_templates(spark, sf_dir):
    """reduce by: deterministic template mining — guid/hex/digit runs
    collapse to '*', inner substrings of words survive ('node17' must
    not lose its stem), Representative is the lexicographic min."""
    rows = kql(spark, sf_dir, """
      datatable (msg:string) [
        'error 503 at node17', 'error 404 at node3',
        'error 500 at node99',
        'session 6f9619ff-8b86-d011-b42d-00c04fc964ff opened',
        'session 00000000-1111-2222-3333-444444444444 opened',
        'cache key 0xDEADBEEF evicted', 'cache key 0x1234 evicted',
        'added words stay', 'login ok'
      ]
      | reduce by msg
    """).collect()
    got = {r["Pattern"]: (r["Count"], r["Representative"]) for r in rows}
    assert got["error * at node*"] == (3, "error 404 at node3")
    assert got["session * opened"][0] == 2
    assert got["cache key * evicted"][0] == 2
    # pure-alpha hex-words ('added'... 'dead') must NOT collapse
    assert got["added words stay"] == (1, "added words stay")
    assert got["login ok"] == (1, "login ok")


def test_percentiles_array_and_dcount_accuracy(spark, sf_dir):
    """percentiles_array -> exact interpolated percentile vector;
    dcount's accuracy knob is accepted (exact anyway, documented)."""
    r = kql(spark, sf_dir, """
      datatable (v:long) [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        | summarize p = percentiles_array(v, 0, 50, 100),
                    d = dcount(v, 3)
    """).collect()[0]
    assert [round(x, 6) for x in r["p"]] == [1.0, 5.5, 10.0]
    assert r["d"] == 10


def test_set_statements_accepted_and_ignored(spark, sf_dir):
    """`set notruncation;`-style client request properties are accepted
    and ignored — real-world Kusto scripts lead with them."""
    r = kql(spark, sf_dir, """
      set notruncation;
      set query_results_cache_max_age = time(5m);
      let k = 2;
      region | where r_regionkey < k | count
    """).collect()
    assert r[0][0] == 2


def test_mv_expand_with_itemindex(spark, sf_dir):
    """mv-expand with_itemindex=i: 0-based element position for the
    single-array (posexplode) and zipped multi-array forms."""
    rows = kql(spark, sf_dir, """
      datatable (k:long) [1]
        | extend a = pack_array(10, 20, 30)
        | mv-expand with_itemindex=i a to typeof(long)
        | project k, i, a
    """).collect()
    assert sorted((r["i"], r["a"]) for r in rows) == [
        (0, 10), (1, 20), (2, 30)]
    rows = kql(spark, sf_dir, """
      datatable (k:long) [1]
        | extend a = pack_array(1, 2, 3), b = pack_array('x', 'y')
        | mv-expand with_itemindex=i a to typeof(long),
                    b to typeof(string)
        | project i, a, b
    """).collect()
    assert sorted((r["i"], r["a"], r["b"]) for r in rows) == [
        (0, 1, "x"), (1, 2, "y"), (2, 3, None)]


def test_case_sensitive_negated_string_ops(spark, sf_dir):
    """Kusto string-operator matrix: _cs case-sensitive variants,
    !-negated variants, in~/!in~ case-insensitive membership, !~
    case-insensitive inequality, and `matches regex`."""
    r = kql(spark, sf_dir, """
      print s = 'Hello World'
        | extend a = iff(s contains 'WORLD', 1, 0),
                 b = iff(s contains_cs 'WORLD', 1, 0),
                 c = iff(s !contains 'xyz', 1, 0),
                 d = iff(s !contains_cs 'Hello', 1, 0),
                 e = iff(s has_cs 'World', 1, 0),
                 f = iff(s !has 'worlds', 1, 0),
                 g = iff(s startswith_cs 'Hello', 1, 0),
                 h = iff(s !endswith 'WORLD', 1, 0),
                 i = iff(s matches regex '^H\\\\w+ W\\\\w+$', 1, 0),
                 j = iff('ASIA' in~ ('asia', 'europe'), 1, 0),
                 k = iff('ASIA' !in~ ('africa'), 1, 0),
                 l = iff(s !~ 'HELLO WORLD', 1, 0)
    """).collect()[0]
    assert {c: r[c] for c in "abcdefghijkl"} == {
        "a": 1, "b": 0, "c": 1, "d": 0, "e": 1, "f": 1,
        "g": 1, "h": 0, "i": 1, "j": 1, "k": 1, "l": 0}


def test_extend_multi_assign_series_fit_line(spark, sf_dir):
    """extend (rsquare, slope, ...) = series_fit_line(y): Kusto's
    tuple assignment — fields project in documented order, prefix
    allowed, unknown functions rejected with guidance."""
    r = kql(spark, sf_dir, """
      print y = pack_array(1.0, 3.0, 5.0, 7.0)
        | extend (rsquare, slope) = series_fit_line(y)
        | project rsquare, slope
    """).collect()[0]
    assert (r["rsquare"], r["slope"]) == (1.0, 2.0)
    r2 = kql(spark, sf_dir, """
      print y = pack_array(1.0, 3.0, 5.0, 7.0)
        | extend (rsq, sl, var, rvar, icept) = series_fit_line(y)
        | project icept, rvar
    """).collect()[0]
    assert (r2["icept"], r2["rvar"]) == (1.0, 0.0)
    with pytest.raises(ValueError, match="multi-assign"):
        kql(spark, sf_dir,
            "print y = pack_array(1.0) | extend (a, b) = strcat('x')")


def test_array_manipulation_and_column_ifexists(spark, sf_dir):
    """array_iff (masked merge), array_rotate_left/right (negative n
    rotates the other way), array_shift_left/right (null or custom
    fill), column_ifexists resolved against the pipeline schema."""
    r = kql(spark, sf_dir, """
      print x = 1
        | extend a = array_iff(pack_array(true, false, true),
                               pack_array(1, 2, 3), pack_array(9, 8, 7)),
                 rl = array_rotate_left(pack_array(1, 2, 3, 4), 1),
                 rr = array_rotate_right(pack_array(1, 2, 3, 4), 1),
                 rneg = array_rotate_left(pack_array(1, 2, 3, 4), -1),
                 sl = array_shift_left(pack_array(1, 2, 3, 4), 2),
                 sr = array_shift_right(pack_array(1, 2, 3, 4), 1, 0),
                 c1 = column_ifexists('x', 99),
                 c2 = column_ifexists('nope', 99)
    """).collect()[0]
    assert r["a"] == [1, 8, 3]
    assert r["rl"] == [2, 3, 4, 1] and r["rr"] == [4, 1, 2, 3]
    assert r["rneg"] == [4, 1, 2, 3]
    assert r["sl"] == [3, 4, None, None] and r["sr"] == [0, 1, 2, 3]
    assert (r["c1"], r["c2"]) == (1, 99)


def test_urlquery_guid_codec_treepath_datasize(spark, sf_dir):
    """parse_urlquery (Kusto's 'Query Parameters' bag, url-decoded),
    the .NET-endian guid<->base64 codec pair (pinned to Kusto's own
    doc example), treepath (bracket-quoted node paths), and the
    estimate_data_size JSON-octet estimate."""
    import json

    r = kql(spark, sf_dir, """
      print q = tostring(parse_urlquery(
                  'https://x.io/p?k1=v%201&k2=a+b#frag')),
            e = base64_encode_fromguid(
                  'ae3133f2-6e22-49ae-b06a-16e6a9b212eb'),
            d = base64_decode_toguid('8jMxriJurkmwahbmqbIS6w=='),
            bad = base64_decode_toguid('not base64!'),
            t = tostring(treepath(dynamic(
                  {"a": {"b": 1}, "c": [10, 20]}))),
            sz = estimate_data_size('abcd', 12345)
    """).collect()[0]
    qp = json.loads(r["q"])["Query Parameters"]
    assert qp["k1"] == "v 1" and qp["k2"] in ("a+b", "a b")
    assert r["e"] == "8jMxriJurkmwahbmqbIS6w=="
    assert r["d"] == "ae3133f2-6e22-49ae-b06a-16e6a9b212eb"
    assert r["bad"] is None
    paths = json.loads(r["t"])
    assert set(paths) == {"['a']", "['a']['b']", "['c']",
                          "['c'][0]", "['c'][1]"}
    assert r["sz"] >= 20


def test_series_empty_input_guards(spark, sf_dir):
    """series_fill_linear / series_seasonal on an EMPTY series must
    return an empty array — zip_with over the descending sequence(1, 0)
    previously padded 2 garbage elements (the round-5 gotcha class)."""
    r = kql(spark, sf_dir, """
      print a = series_fill_linear(array_slice(pack_array(1.0), 1, 0)),
            b = series_seasonal(array_slice(pack_array(1.0), 1, 0), 7)
    """).collect()[0]
    assert r["a"] == [] and r["b"] == []


def test_zip_array_iif_and_empty_guards(spark, sf_dir):
    """zip (null-padded to the longest input, variant output),
    array_iif (documented Kusto alias of array_iff), and the
    empty-array guards: sequence(1, 0) DESCENDS to [1, 0] (round-5
    gotcha), so an empty mask/input must yield empty — array_iff and
    array_shift_* previously produced 2-element garbage there."""
    import json

    r = kql(spark, sf_dir, """
      print z = tostring(zip(pack_array(1, 2, 3), pack_array('a', 'b'))),
            zp = tostring(zip(pack_array(1, 2), pack_array(9, 8))[1][0]),
            ii = array_iif(pack_array(true, false), pack_array(5, 6),
                           pack_array(7, 8)),
            e1 = array_shift_left(array_slice(pack_array(1), 1, 0), 1),
            e2 = array_iff(array_slice(pack_array(1), 1, 0),
                           pack_array(1), pack_array(2))
    """).collect()[0]
    assert json.loads(r["z"]) == [[1, "a"], [2, "b"], [3, None]]
    assert r["zp"] == "2"
    assert r["ii"] == [5, 8]
    assert r["e1"] == [] and r["e2"] == []


def test_convert_unit_scalars(spark, sf_dir):
    """convert_* unit family: compile-time factor fold (one runtime
    multiply; affine for temperature), unknown units and non-literal
    unit names fail at compile."""
    import math

    r = kql(spark, sf_dir, """
      print m = convert_length(1.0, 'Mile', 'Kilometer'),
            a = convert_angle(180.0, 'Degree', 'Radian'),
            t = convert_temperature(32.0, 'DegreeFahrenheit',
                                    'DegreeCelsius'),
            t2 = convert_temperature(100.0, 'DegreeCelsius', 'Kelvin'),
            s = convert_speed(1.0, 'Knot', 'KilometerPerHour'),
            e = convert_energy(1.0, 'KilowattHour', 'Joule'),
            p = convert_pressure(1.0, 'Atmosphere', 'Pascal')
    """).collect()[0]
    assert abs(r["m"] - 1.609344) < 1e-12
    assert abs(r["a"] - math.pi) < 1e-12
    assert abs(r["t"]) < 1e-12
    assert r["t2"] == 373.15
    assert abs(r["s"] - 1.852) < 1e-12
    assert r["e"] == 3.6e6 and r["p"] == 101325.0
    with pytest.raises(ValueError, match="unknown unit"):
        kql(spark, sf_dir,
            "print x = convert_mass(1.0, 'Pound', 'Bogus')")
    with pytest.raises(ValueError, match="literal unit"):
        kql(spark, sf_dir,
            "nation | project x = convert_mass(1.0, n_name, 'Gram')")


def test_isutf8_and_regex_quote(spark, sf_dir):
    """isutf8 (valid-utf8 probe) and regex_quote (RE2 QuoteMeta: every
    ASCII char outside [A-Za-z0-9_] escaped; non-ASCII passes
    through)."""
    r = kql(spark, sf_dir, r"""
      print u = isutf8('héllo'), n = isutf8(''),
            q = regex_quote('a.b*c(d) [x]'),
            qw = regex_quote('plain_Word123'),
            qn = regex_quote('héllo')
    """).collect()[0]
    assert r["u"] is True and r["n"] is True
    assert r["q"] == "a\\.b\\*c\\(d\\)\\ \\[x\\]"
    assert r["qw"] == "plain_Word123"
    assert r["qn"] == "héllo"


def test_conditional_and_covariance_aggregates(spark, sf_dir):
    """stdevif/varianceif/take_anyif (CASE-gated like the existing
    *if family), covariance/covariancep (+ the *if forms gating BOTH
    sides), stdevp/variancep, around(), and the plural WEIGHTED
    percentilesw tuple assignment."""
    rows = kql(spark, sf_dir, """
      datatable (k:string, x:real, y:real, w:long) [
        'a', 1.0, 2.0, 1, 'a', 2.0, 4.0, 1, 'a', 3.0, 6.0, 2,
        'a', 100.0, -1.0, 1, 'b', 5.0, 5.0, 3]
        | summarize sd = stdevif(x, x < 50),
                    vr = varianceif(x, x < 50),
                    ta = take_anyif(x, x == 2.0),
                    cv = covarianceif(x, y, x < 50),
                    cvp = covariancepif(x, y, x < 50),
                    (p50, p100) = percentilesw(x, w, 50, 100),
                    sp = stdevp(x), vp = variancep(x) by k
        | where k == 'a'
        | extend near = around(p50, 3.0, 0.5)
    """).collect()
    r = rows[0]
    assert abs(r["sd"] - 1.0) < 1e-12 and abs(r["vr"] - 1.0) < 1e-12
    assert r["ta"] == 2.0
    assert abs(r["cv"] - 2.0) < 1e-12       # cov of (1,2,3)x(2,4,6)
    assert abs(r["cvp"] - 4.0 / 3.0) < 1e-12
    assert r["p50"] == 3.0 and r["p100"] == 100.0
    assert r["near"] is True
    import statistics
    xs = [1.0, 2.0, 3.0, 100.0]
    assert abs(r["vp"] - statistics.pvariance(xs)) < 1e-9
    assert abs(r["sp"] - statistics.pstdev(xs)) < 1e-9


def test_parse_xml_bag_has_key_and_quarters(spark, sf_dir):
    """parse_xml (Kusto convention: '@attr', '#text', repeated
    siblings -> array, invalid -> null), bag_has_key (top-level and
    JSONPath forms; present-with-null-value keys count), extract_json
    alias, startofquarter/endofquarter."""
    import json

    r = kql(spark, sf_dir, """
      print x = parse_xml('<r a="1"><i>one</i><i>two</i><e/>txt</r>'),
            bad = parse_xml('<not closed'),
            h1 = bag_has_key(dynamic({"a": 1, "b": null}), 'b'),
            h0 = bag_has_key(dynamic({"a": 1}), 'z'),
            hp = bag_has_key(dynamic({"a": {"b": 7}}), '$.a.b'),
            ej = extract_json('$.k', '{"k": 42}'),
            sq = startofquarter(datetime(2024-05-17 10:00:00)),
            eq = endofquarter(datetime(2024-05-17 10:00:00))
        | extend x = tostring(x), bad = tostring(bad)
    """).collect()[0]
    got = json.loads(r["x"])
    assert got == {"r": {"@a": "1", "i": ["one", "two"], "e": None}}
    assert r["bad"] in (None, "null", "")
    assert r["h1"] is True and r["h0"] is False and r["hp"] is True
    assert r["ej"] == "42"
    assert str(r["sq"]) == "2024-04-01 00:00:00"
    assert str(r["eq"]).startswith("2024-06-30 23:59:59")


def test_series_decompose_anomalies(spark, sf_dir):
    """series_decompose_anomalies by NAME (the bundled pipeline the
    q_kql_series_anomalies entry verifies piecewise): a planted spike
    over two clean weekly periods must flag +1 at the spike; the
    tuple-assign form exposes Kusto's (ad_flag, ad_score, baseline)
    order."""
    base = [1, 2, 3, 4, 5, 6, 7] * 3
    # spike sized for the r13 ctukey default (10th-90th percentile
    # range): a 100 plant scores 1.45 — just under the 1.5 flag line
    base[9] = 1000
    arr = ", ".join(str(v) for v in base)
    import json

    r = kql(spark, sf_dir, f"""
      print y = pack_array({arr})
        | extend (f, s, b) = series_decompose_anomalies(y, 1.5, 7)
        | project f = tostring(f), s = tostring(s), b = tostring(b)
    """).collect()[0]
    flags = json.loads(r["f"])
    scores = json.loads(r["s"])
    assert len(flags) == len(base) and len(json.loads(r["b"])) == len(base)
    assert flags[9] == 1
    assert flags.count(0) >= len(base) - 4
    assert scores[9] == max(x for x in scores if x is not None)


def test_series_fit_2lines(spark, sf_dir):
    """series_fit_2lines (bare name -> the exact pure-SQL _dynamic
    enumeration, bag extended with variance/rvariance for the
    tuple-assign order): a clean two-segment series (slope 1 with a
    +6 level shift at index 4) must split at 4 with near-zero stitched
    residual and per-side slope 1."""
    import json

    r = kql(spark, sf_dir, """
      print y = pack_array(0.0, 1.0, 2.0, 3.0, 10.0, 11.0, 12.0, 13.0)
        | extend (rsq, split, v, rv, fit) = series_fit_2lines(y),
                 d = series_fit_2lines(y)
        | extend ls = todouble(d.left.slope),
                 rs = todouble(d.right.slope),
                 ri = todouble(d.right.interception)
        | project-away d, y
        | extend fit = tostring(fit)
    """).collect()[0]
    assert r["split"] == 4
    assert r["rv"] < 1e-12 and r["rsq"] > 0.9999
    assert abs(r["ls"] - 1.0) < 1e-9 and abs(r["rs"] - 1.0) < 1e-9
    assert abs(r["ri"] - 6.0) < 1e-9
    assert [round(v, 6) for v in json.loads(r["fit"])] == \
        [0.0, 1.0, 2.0, 3.0, 10.0, 11.0, 12.0, 13.0]


def test_parse_user_agent(spark, sf_dir):
    """parse_user_agent over the major engine families (documented
    uap-core approximation): detection order handles Edge/Opera
    embedding 'Chrome/', Safari requires 'Version/', and the output
    bag matches Kusto's Browser/OperatingSystem/DeviceType shape."""
    import json

    chrome = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
              "AppleWebKit/537.36 (KHTML, like Gecko) "
              "Chrome/57.0.2987.133 Safari/537.36")
    edge = chrome + " Edg/90.0.818.66"
    safari = ("Mozilla/5.0 (iPhone; CPU iPhone OS 14_6 like Mac OS X) "
              "AppleWebKit/605.1.15 (KHTML, like Gecko) "
              "Version/14.1.1 Mobile/15E148 Safari/604.1")
    android = ("Mozilla/5.0 (Linux; Android 11; Pixel 5 Build/RQ3A) "
               "AppleWebKit/537.36 (KHTML, like Gecko) "
               "Chrome/90.0.4430.91 Mobile Safari/537.36")
    rows = kql(spark, sf_dir, f"""
      datatable (name:string, ua:string) [
        'chrome', '{chrome}', 'edge', '{edge}',
        'safari', '{safari}', 'android', '{android}']
        | project name,
            b = tostring(parse_user_agent(ua, 'browser')),
            o = tostring(parse_user_agent(ua, 'os')),
            d = tostring(parse_user_agent(ua, 'device'))
    """).collect()
    got = {r["name"]: (json.loads(r["b"]), json.loads(r["o"]),
                       json.loads(r["d"])) for r in rows}
    assert got["chrome"][0]["Browser"]["Family"] == "Chrome"
    assert got["chrome"][0]["Browser"]["MajorVersion"] == "57"
    assert got["chrome"][1]["OperatingSystem"]["Family"] == "Windows"
    assert got["chrome"][1]["OperatingSystem"]["MajorVersion"] == "10"
    assert got["edge"][0]["Browser"]["Family"] == "Edge"
    assert got["edge"][0]["Browser"]["MajorVersion"] == "90"
    assert got["safari"][0]["Browser"]["Family"] == "Safari"
    assert got["safari"][1]["OperatingSystem"]["Family"] == "iOS"
    assert got["safari"][1]["OperatingSystem"]["MajorVersion"] == "14"
    assert got["safari"][2]["DeviceType"]["Family"] == "iPhone"
    assert got["safari"][2]["DeviceType"]["Brand"] == "Apple"
    assert got["android"][1]["OperatingSystem"]["Family"] == "Android"
    assert got["android"][2]["DeviceType"]["Family"] == "Pixel 5"
    with pytest.raises(ValueError, match="look_for"):
        kql(spark, sf_dir,
            "print x = parse_user_agent('ua', 'bogus')")


def test_scan_state_spans_arrow_batches(spark, sf_dir):
    """The scan kernel must carry automaton state ACROSS Arrow batches:
    with a tiny maxRecordsPerBatch every group spans several batches,
    and the match set must not change."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    rows = []
    for u in (1, 2):
        for i in range(30):
            e = ("signup" if i % 10 == 0 else
                 "click" if i % 10 == 5 else
                 "purchase" if i % 10 == 9 else "view")
            rows.append((u, i, u * 100 + i, e))
    cells = ", ".join(f"{u}, {t}, {i}, '{e}'" for u, t, i, e in rows)
    q = f"""
      datatable (u:long, t:long, id:long, e:string)
        [{cells}]
        | partition by u (
            sort by t asc, id asc
            | scan with (step a: e == 'signup'; step b: e == 'click';
                         step c: e == 'purchase';)
          )
    """
    try:
        big = {(r["u"], r["id"], r["step"], r["match_id"])
               for r in kql(spark, sf_dir, q).collect()}
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "4")
        small = {(r["u"], r["id"], r["step"], r["match_id"])
                 for r in kql(spark, sf_dir, q).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)
    # 3 full sequences per user per the layout above
    assert len(big) == 2 * 3 * 3
    assert big == small


def test_sequence_detect_state_spans_arrow_batches(spark, sf_dir):
    """Same cross-batch contract for sequence_detect's kernel."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    q = """
      events
        | evaluate sequence_detect(ts, 12h, 1d,
            a = event_type == 'signup', b = event_type == 'purchase',
            user_id)
    """
    try:
        big = {(r["user_id"], str(r["a_ts"]), str(r["b_ts"]))
               for r in kql(spark, sf_dir, q).collect()}
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "13")
        small = {(r["user_id"], str(r["a_ts"]), str(r["b_ts"]))
                 for r in kql(spark, sf_dir, q).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)
    assert len(big) > 0 and big == small


def test_totimespan_parsing(spark, sf_dir):
    """totimespan: '[-][d.]hh:mm:ss[.f]' text -> microseconds (the unit
    every timespan literal carries through this compiler); junk -> null."""
    r = kql(spark, sf_dir, """
      print a = totimespan('01:02:03'), b = totimespan('1.01:02:03.5'),
            c = totimespan('-00:00:01'), d = totimespan('junk'),
            e = iff(totimespan('00:05:00') == 5m, 1, 0)
    """).collect()[0]
    assert r["a"] == 3_723_000_000
    assert r["b"] == 86_400_000_000 + 3_723_000_000 + 500_000
    assert r["c"] == -1_000_000 and r["d"] is None
    assert r["e"] == 1


def test_invoke_tabular_function(spark, sf_dir):
    """`| invoke f(args)` with `let f = (T:(*), p:type) { ... }`:
    the piped table binds the table parameter, scalar args expand
    textually, the body is a full pipeline (reusable library shape)."""
    rows = kql(spark, sf_dir, """
      let top_by_key = (T:(*), n:long) {
        T | sort by r_regionkey desc | take n | project r_name
      };
      region | invoke top_by_key(2)
    """).collect()
    assert sorted(r["r_name"] for r in rows) == ["EUROPE", "MIDDLE EAST"]
    # composes with where inside and multiple invocations
    rows2 = kql(spark, sf_dir, """
      let only = (T:(*), k:long) { T | where r_regionkey == k };
      region | invoke only(3) | project r_name
    """).collect()
    assert [r["r_name"] for r in rows2] == ["EUROPE"]
    with pytest.raises(ValueError, match="tabular function"):
        kql(spark, sf_dir, "region | invoke missing_fn(1)")
    with pytest.raises(ValueError, match="takes 1 args"):
        kql(spark, sf_dir, """
          let f = (T:(*), k:long) { T | take k };
          region | invoke f(1, 2)
        """)


def test_series_decompose_bag_and_tuple_assign(spark, sf_dir):
    """series_decompose: baseline+residual == original wherever both
    are defined (additive identity), seasonal is the series_seasonal
    component, and the tuple-assign form projects the four arrays."""
    import json
    r = kql(spark, sf_dir, """
      print y = pack_array(11.0, 9.0, 11.0, 9.0, 11.0, 9.0, 11.0, 9.0)
        | extend d = series_decompose(y, 2)
        | project b = tostring(d.baseline), res = tostring(d.residual),
                  s = tostring(d.seasonal)
    """).collect()[0]
    baseline = json.loads(r["b"])
    resid = json.loads(r["res"])
    seasonal = json.loads(r["s"])
    y = [11.0, 9.0] * 4
    for i, (bb, rr) in enumerate(zip(baseline, resid)):
        assert abs(bb + rr - y[i]) < 1e-9
    assert all(abs(s - (1.0 if i % 2 == 0 else -1.0)) < 1e-9
               for i, s in enumerate(seasonal))
    rows = kql(spark, sf_dir, """
      print y = pack_array(11.0, 9.0, 11.0, 9.0, 11.0, 9.0, 11.0, 9.0)
        | extend (baseline, seasonal, trend, residual) =
            series_decompose(y, 2)
        | mv-expand r = residual to typeof(real)
        | summarize mx = max(abs(r))
    """).collect()
    assert rows[0]["mx"] < 2.0  # residuals bounded on a clean signal


def test_project_wildcards(spark, sf_dir):
    """project-away / project-keep / project-reorder accept Kusto
    wildcards (case-insensitive schema expansion)."""
    out = kql(spark, sf_dir, "lineitem | project-away l_ship*, l_r*")
    assert not [c for c in out.columns
                if c.startswith(("l_ship", "l_r"))]
    out2 = kql(spark, sf_dir, "lineitem | project-keep *date, l_tax")
    assert set(out2.columns) == {c for c in kql(
        spark, sf_dir, "lineitem").columns
        if c.endswith("date")} | {"l_tax"}
    out3 = kql(spark, sf_dir, "lineitem | project-reorder l_ship*")
    assert out3.columns[0].startswith("l_ship")
    with pytest.raises(ValueError, match="unknown"):
        kql(spark, sf_dir, "lineitem | project-keep nope_col")


def test_parse_kv_delimiters_quotes_types(spark, sf_dir):
    """parse-kv (specified-delimiters mode): first occurrence wins on
    duplicate keys, quote-wrapped values may contain the pair
    delimiter and lose their quotes, a missing string key yields ''
    (Kusto's documented default) while a missing typed key yields
    null, and custom delimiters work."""
    rows = kql(spark, sf_dir, """
      datatable (line:string) [
        'k1=v1 k2=42 k3="a b" k2=99',
        'k3="only quoted" other=x',
        'no keys here'
      ]
      | parse-kv line as (k1, k2:long, k3) with (
          pair_delimiter=' ', kv_delimiter='=', quote='"')
    """).collect()
    assert [(r["k1"], r["k2"], r["k3"]) for r in rows] == [
        ("v1", 42, "a b"), ("", None, "only quoted"), ("", None, "")]
    # custom delimiters, no quote option
    r2 = kql(spark, sf_dir, """
      print s = 'a:1;b:xy;a:9'
        | parse-kv s as (a:long, b) with (
            pair_delimiter=';', kv_delimiter=':')
    """).collect()[0]
    assert (r2["a"], r2["b"]) == (1, "xy")
    # key matching is anchored to pair starts: 'bar=' must not match
    # a 'foobar=' pair
    r3 = kql(spark, sf_dir, """
      print s = 'foobar=1 bar=2'
        | parse-kv s as (bar:long) with (
            pair_delimiter=' ', kv_delimiter='=')
    """).collect()[0]
    assert r3["bar"] == 2
    with pytest.raises(ValueError, match="not supported"):
        kql(spark, sf_dir, """
          print s = 'a=1' | parse-kv s as (a) with (greedy='true')
        """)


def test_rows_near_and_activity_counts(spark, sf_dir):
    """rows_near: context rows around condition matches, per
    partition key; activity_counts_metrics: per-window count/dcount/
    new/cumulative distinct — hand-traced."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, t:long, e:string) [
        1, 1, 'ok', 1, 2, 'ok', 1, 3, 'err', 1, 4, 'ok', 1, 5, 'ok',
        1, 6, 'ok', 2, 1, 'ok', 2, 2, 'err'
      ]
      | partition by u ( sort by t asc
          | evaluate rows_near(e == 'err', 1) )
      | project u, t
    """).collect()
    assert sorted((r["u"], r["t"]) for r in rows) == [
        (1, 2), (1, 3), (1, 4), (2, 1), (2, 2)]
    # asymmetric window: 0 before, 2 after the match
    rows2 = kql(spark, sf_dir, """
      datatable (u:long, t:long, e:string) [
        1, 1, 'ok', 1, 2, 'err', 1, 3, 'ok', 1, 4, 'ok', 1, 5, 'ok'
      ]
      | partition by u ( sort by t asc
          | evaluate rows_near(e == 'err', 0, 2) )
      | project t
    """).collect()
    assert sorted(r["t"] for r in rows2) == [2, 3, 4]
    am = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-01 01:00:00),
        2, datetime(2024-01-01 02:00:00),
        1, datetime(2024-01-02 01:00:00),
        3, datetime(2024-01-02 02:00:00),
        3, datetime(2024-01-02 03:00:00)
      ]
      | evaluate activity_counts_metrics(u, ts, datetime(2024-01-01),
          datetime(2024-01-04), 1d)
      | project d = datetime_diff('day', bin, datetime(2024-01-01)),
                count_, dcount, new_dcount, aggregated_dcount
    """).collect()
    got = {r["d"]: (r["count_"], r["dcount"], r["new_dcount"],
                    r["aggregated_dcount"]) for r in am}
    assert got == {0: (2, 2, 2, 2), 1: (3, 2, 1, 3)}


def test_sliding_window_counts_and_engagement(spark, sf_dir):
    """sliding_window_counts / activity_engagement: hand-traced
    trailing-window semantics — window (T-look, T], events on the
    grid boundary belong to their own bin, bins with no contributing
    events are absent (documented)."""
    src = """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-01 06:00:00),
        2, datetime(2024-01-02 06:00:00),
        1, datetime(2024-01-03 06:00:00)
      ]
    """
    rows = kql(spark, sf_dir, src + """
      | evaluate sliding_window_counts(u, ts, datetime(2024-01-01),
          datetime(2024-01-05), 2d, 1d)
      | project d = datetime_diff('day', bin, datetime(2024-01-01)),
                count_, dcount
    """).collect()
    got = {r["d"]: (r["count_"], r["dcount"]) for r in rows}
    assert got == {1: (1, 1), 2: (2, 2), 3: (2, 2), 4: (1, 1)}
    rows2 = kql(spark, sf_dir, src + """
      | evaluate activity_engagement(u, ts, datetime(2024-01-01),
          datetime(2024-01-05), 1d, 3d)
      | project d = datetime_diff('day', bin, datetime(2024-01-01)),
                i = dcount_activities_inner,
                o = dcount_activities_outer, activity_ratio
    """).collect()
    got2 = {r["d"]: (r["i"], r["o"], r["activity_ratio"])
            for r in rows2}
    assert got2 == {1: (1, 1, 1.0), 2: (1, 2, 0.5),
                    3: (1, 2, 0.5), 4: (0, 2, 0.0)}
    with pytest.raises(ValueError, match="multiple"):
        kql(spark, sf_dir, src + """
          | evaluate activity_engagement(u, ts, datetime(2024-01-01),
              datetime(2024-01-05), 2d, 3d)
        """)


def test_funnel_sequence_completion_fixture(spark, sf_dir):
    """funnel_sequence_completion: cohort by first-step period,
    sequential-min prefix completion, per-prefix windows. Hand-traced
    fixture: u1 completes all three within windows, u2's click is too
    late (window 1h), u3 never clicks, u4's first signup lands in the
    second period."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime, e:string) [
        1, datetime(2024-01-01 00:10:00), 'signup',
        1, datetime(2024-01-01 00:30:00), 'click',
        1, datetime(2024-01-01 01:00:00), 'purchase',
        2, datetime(2024-01-01 02:00:00), 'signup',
        2, datetime(2024-01-01 04:00:00), 'click',
        3, datetime(2024-01-01 03:00:00), 'signup',
        4, datetime(2024-01-02 00:30:00), 'signup',
        4, datetime(2024-01-02 00:40:00), 'click'
      ]
      | evaluate funnel_sequence_completion(u, ts,
          datetime(2024-01-01), datetime(2024-01-03), 1d, e,
          dynamic(['signup', 'click', 'purchase']),
          dynamic([1d, 1h, 2h]))
      | project d = datetime_diff('day', period, datetime(2024-01-01)),
                prefix_len, n_ids
    """).collect()
    got = {(r["d"], r["prefix_len"]): r["n_ids"] for r in rows}
    # day 0: u1,u2,u3 signed up; only u1's click within 1h of signup;
    # u1's purchase within 2h. day 1: u4 signup + in-window click.
    assert got == {(0, 1): 3, (0, 2): 1, (0, 3): 1,
                   (1, 1): 1, (1, 2): 1}
    with pytest.raises(ValueError, match="same nonzero length"):
        kql(spark, sf_dir, """
          events | evaluate funnel_sequence_completion(user_id, ts,
            datetime(2024-01-01), datetime(2024-02-01), 7d,
            event_type, dynamic(['a', 'b']), dynamic([1d]))
        """)


def test_format_timespan_and_bytes(spark, sf_dir):
    """format_timespan (compile-time format parse, zero-padded
    components, sign) and format_bytes (1024-based auto unit,
    precision, explicit unit)."""
    r = kql(spark, sf_dir, """
      print a = format_timespan(90061000001, 'd.hh:mm:ss.fff'),
            b = format_timespan(-3600000000, 'hh:mm:ss'),
            c = format_timespan(61000000, 'm:ss'),
            d = format_bytes(4096),
            e = format_bytes(1073741824, 2),
            f = format_bytes(500),
            g = format_bytes(1537, 1, 'KB')
    """).collect()[0]
    assert r["a"] == "1.01:01:01.000"
    assert r["b"] == "-01:00:00" and r["c"] == "1:01"
    assert r["d"] == "4 KB" and r["e"] == "1.00 GB"
    assert r["f"] == "500 Bytes" and r["g"] == "1.5 KB"
    with pytest.raises(ValueError, match="literal"):
        kql(spark, sf_dir, "print x = format_timespan(1, strcat('a'))")
    with pytest.raises(ValueError, match="units"):
        kql(spark, sf_dir, "print x = format_bytes(1, 0, 'XB')")


def test_graph_to_table_nodes_and_edges(spark, sf_dir):
    """graph-to-table: edges verbatim with renamed endpoints; nodes =
    the bound node table, or distinct endpoint ids when derived."""
    pre = """
      let E = datatable (src:string, dst:string, w:long) [
        'a','b',1, 'b','c',2 ];
    """
    out = kql(spark, sf_dir, pre + """
      E | make-graph src --> dst
        | graph-to-table nodes with_node_id=id
    """).collect()
    assert sorted(r["id"] for r in out) == ["a", "b", "c"]
    out2 = kql(spark, sf_dir, pre + """
      E | make-graph src --> dst
        | graph-to-table edges with_source_id=u with_target_id=v
    """)
    assert out2.columns == ["u", "v", "w"] and out2.count() == 2
    # a bound node table is returned with its properties
    out3 = kql(spark, sf_dir, pre + """
      let N = datatable (id:string, team:string) [
        'a','x', 'b','y', 'c','z' ];
      E | make-graph src --> dst with N on id
        | graph-to-table nodes
    """).collect()
    assert sorted((r["id"], r["team"]) for r in out3) == [
        ("a", "x"), ("b", "y"), ("c", "z")]
    with pytest.raises(ValueError, match="make-graph"):
        kql(spark, sf_dir, "nation | graph-to-table nodes")


def test_parse_kv_regex_mode(spark, sf_dir):
    """parse-kv regex mode: a two-capture-group pattern pulls all
    (key, value) matches with one regexp_extract_all pair; first
    occurrence wins, backslashes in the @'verbatim' pattern survive,
    delimiter options cannot combine with regex."""
    rows = kql(spark, sf_dir, r"""
      datatable (line:string) [
        '(k1:v1)(k2:42)(k1:dup)',
        'no pairs',
        '(code:7)'
      ]
      | parse-kv line as (k1, k2:long, code:long) with (
          regex = @'\(([a-z0-9]+):([^)]*)\)')
    """).collect()
    assert [(r["k1"], r["k2"], r["code"]) for r in rows] == [
        ("v1", 42, None), ("", None, None), ("", None, 7)]
    with pytest.raises(ValueError, match="cannot\\s+combine"):
        kql(spark, sf_dir, """
          print s = 'a=1'
            | parse-kv s as (a) with (regex = 'x', quote = 'q')
        """)


def test_evaluate_basket_frequent_itemsets(spark, sf_dir):
    """evaluate basket: all attribute patterns above the fractional
    support threshold (default 0.05), exact cube enumeration — each
    returned pattern's count equals its own groupBy count, and every
    pattern clears the threshold."""
    out = kql(spark, sf_dir, """
      documents | project lang, source | evaluate basket(0.1)
    """).collect()
    total = kql(spark, sf_dir,
                "documents | count").collect()[0]["count_"]
    assert out and all(r["count"] >= 0.1 * total for r in out)
    langs = {r["lang"]: r["n"] for r in kql(
        spark, sf_dir,
        "documents | summarize n = count() by lang").collect()}
    for r in out:
        if r["lang"] is not None and r["source"] is None:
            assert r["count"] == langs[r["lang"]]
    # all-wildcard row excluded; bad thresholds rejected
    assert all(r["lang"] is not None or r["source"] is not None
               for r in out)
    with pytest.raises(ValueError, match="threshold"):
        kql(spark, sf_dir, "documents | evaluate basket(1.5)")


def test_series_periods_validate_scores(spark, sf_dir):
    """series_periods_validate: ACF scores at caller-supplied periods
    (no peak search) — exact at the planted period and harmonic,
    negative off-period."""
    import json
    r = kql(spark, sf_dir, """
      range i from 0 to 47 step 1
        | summarize y = make_list(sin(2.0 * pi() * todouble(i) / 12.0))
        | extend b = series_periods_validate(y, 12, 24, 5)
        | project ps = tostring(b.periods), ss = tostring(b.scores)
    """).collect()[0]
    assert json.loads(r["ps"]) == [12, 24, 5]
    ss = json.loads(r["ss"])
    assert abs(ss[0] - 0.75) < 1e-9 and abs(ss[1] - 0.5) < 1e-9
    assert ss[2] < 0


def test_facet_by_stacks_value_frequencies(spark, sf_dir):
    """facet by col1, col2: one frequency table per facet column,
    stacked as (facet_column, value, count_); each child equals its
    own summarize count() by col."""
    out = kql(spark, sf_dir, "documents | facet by lang, source")
    got = {(r["facet_column"], r["value"]): r["count_"]
           for r in out.collect()}
    langs = {r["lang"]: r["n"] for r in kql(
        spark, sf_dir,
        "documents | summarize n = count() by lang").collect()}
    srcs = {r["source"]: r["n"] for r in kql(
        spark, sf_dir,
        "documents | summarize n = count() by source").collect()}
    assert {k[1]: v for k, v in got.items()
            if k[0] == "lang"} == {str(k): v for k, v in langs.items()}
    assert {k[1]: v for k, v in got.items()
            if k[0] == "source"} == {str(k): v for k, v in srcs.items()}
    with pytest.raises(ValueError, match="unknown columns"):
        kql(spark, sf_dir, "documents | facet by nope")
    with pytest.raises(ValueError, match="not supported"):
        kql(spark, sf_dir,
            "documents | facet by lang with (take 3)")


def test_fork_runs_children_over_shared_input(spark, sf_dir):
    """fork: N sub-pipelines over the same cached input, stacked with
    a fork_name discriminator and null-filled missing columns; each
    child's rows equal the standalone pipeline's."""
    out = kql(spark, sf_dir, """
      events
        | fork errors = (where event_type == 'error' | count)
               by_type = (summarize n = count() by event_type)
    """).collect()
    errs = [r for r in out if r["fork_name"] == "errors"]
    types = {r["event_type"]: r["n"] for r in out
             if r["fork_name"] == "by_type"}
    want_err = kql(spark, sf_dir,
                   "events | where event_type == 'error' | count"
                   ).collect()[0]["count_"]
    want_types = {r["event_type"]: r["n"] for r in kql(
        spark, sf_dir,
        "events | summarize n = count() by event_type").collect()}
    assert len(errs) == 1 and errs[0]["count_"] == want_err
    assert errs[0]["event_type"] is None and errs[0]["n"] is None
    assert types == want_types
    # unnamed children get positional names
    out2 = kql(spark, sf_dir,
               "nation | fork (take 2) (count)")
    assert {r["fork_name"] for r in out2.collect()} == {
        "fork_0", "fork_1"}
    with pytest.raises(ValueError, match=">= 2"):
        kql(spark, sf_dir, "nation | fork (count)")


def test_series_periods_detect_acf_peaks(spark, sf_dir):
    """series_periods_detect: ACF peak-picking recovers the planted
    period (and its harmonic) on a pure sine, ranked by score; a
    constant series (zero variance) and a too-short series yield
    empty arrays; the plateau around the true period yields ONE peak,
    not three; tuple-assign binds (periods, scores)."""
    r = kql(spark, sf_dir, """
      range i from 0 to 47 step 1
        | summarize y = make_list(sin(2.0 * pi() * todouble(i) / 12.0))
        | extend (periods, scores) = series_periods_detect(y, 2, 24, 2)
        | project ps = tostring(periods), ss = tostring(scores)
    """).collect()[0]
    import json
    periods, scores = json.loads(r["ps"]), json.loads(r["ss"])
    assert periods == [12, 24]
    assert abs(scores[0] - 0.75) < 1e-9  # (n-p)/n biased ACF: 36/48
    assert abs(scores[1] - 0.5) < 1e-9
    assert scores[0] >= scores[1]
    r2 = kql(spark, sf_dir, """
      print y = pack_array(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0)
        | extend b = series_periods_detect_dynamic(y, 2, 4, 3)
        | project ps = tostring(b.periods), ss = tostring(b.scores)
    """).collect()[0]
    assert json.loads(r2["ps"]) == [] and json.loads(r2["ss"]) == []
    r3 = kql(spark, sf_dir, """
      print y = pack_array(1.0, 2.0)
        | extend b = series_periods_detect_dynamic(y, 2, 10, 3)
        | project ps = tostring(b.periods)
    """).collect()[0]
    assert json.loads(r3["ps"]) == []


def test_scan_declare_assignments_and_state_predicates(spark, sf_dir):
    """scan declare: state variables initialize at declared defaults,
    assignments run on step match before emission, state-dependent
    predicates read live state, state resets per completed match and
    per partition key."""
    rows = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (u:long, t:long, e:string, v:long) [
        1, 1, 'start', 10,  1, 2, 'add', 5,  1, 3, 'end', 0,
        2, 1, 'start', 7,   2, 2, 'end', 0,
        2, 3, 'start', 1,   2, 4, 'add', 2,  2, 5, 'end', 0
      ]
      | partition by u (
          sort by t asc
          | scan declare (total:long = 0, lbl:string = '') with (
              step s_start: e == 'start' => total = v,
                            lbl = strcat('u', tostring(u));
              step s_add: e == 'add' => total = total + v;
              step s_end: e == 'end';
            )
        )
      | project u, t, step, total, lbl, match_id
    """).collect()))
    assert rows == [
        (1, 1, "s_start", 10, "u1", 0),
        (1, 2, "s_add", 15, "u1", 0),
        (1, 3, "s_end", 15, "u1", 0),
        (2, 1, "s_start", 7, "u2", 0),
        # u2's first end arrives while s_add is expected -> no match;
        # the second 'start' RE-MATCHES s_start (repeated-step
        # semantics): its assignments re-run, restarting the
        # accumulator at v=1 within the same match
        (2, 3, "s_start", 1, "u2", 0),
        (2, 4, "s_add", 3, "u2", 0),
        (2, 5, "s_end", 3, "u2", 0),
    ]
    # state-dependent predicate: cap the adds at n < 2
    rows2 = sorted(map(tuple, kql(spark, sf_dir, """
      datatable (t:long, e:string) [
        1,'a', 2,'a', 3,'a', 4,'z'
      ]
      | sort by t asc
      | scan declare (n:long = 0) with (
          step s1: e == 'a' and n < 1 => n = n + 1;
          step s2: e == 'z';
        )
      | project t, step, n
    """).collect()))
    assert rows2 == [(1, "s1", 1), (4, "s2", 1)]
    with pytest.raises(ValueError, match="undeclared"):
        kql(spark, sf_dir, """
          datatable (t:long) [1] | sort by t asc
            | scan declare (n:long = 0) with (step s: true => m = 1;)
        """)
    with pytest.raises(ValueError, match="shadows"):
        kql(spark, sf_dir, """
          datatable (t:long) [1] | sort by t asc
            | scan declare (t:long = 0) with (step s: true;)
        """)
    with pytest.raises(ValueError, match="support only"):
        kql(spark, sf_dir, """
          datatable (t:long) [1] | sort by t asc
            | scan declare (n:long = 0) with (
                step s: true => n = exp(1.0);)
        """)


def test_graph_match_two_hop_with_node_properties(spark, sf_dir):
    """make-graph + graph-match: a 2-hop pattern with edge and node
    property predicates compiles to equi-join chains; results equal
    hand-derived truth on an org-chart fixture."""
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string, rel:string) [
        'alice', 'bob', 'manages',
        'bob', 'carol', 'manages',
        'bob', 'dave', 'manages',
        'carol', 'erin', 'manages',
        'alice', 'frank', 'mentors'
      ];
      let N = datatable (id:string, team:string) [
        'alice', 'exec', 'bob', 'eng', 'carol', 'eng',
        'dave', 'sales', 'erin', 'eng', 'frank', 'eng'
      ];
      E
      | make-graph src --> dst with N on id
      | graph-match (a)-[e1]->(b)-[e2]->(c)
          where e1.rel == 'manages' and e2.rel == 'manages'
                and c.team == 'eng'
          project boss = a, mid = b.id, leaf = c.id
    """).collect()
    got = sorted((r["boss"], r["mid"], r["leaf"]) for r in rows)
    assert got == [("alice", "bob", "carol"), ("bob", "carol", "erin")]


def test_graph_match_var_length_and_reversed(spark, sf_dir):
    """-[*1..3]-> expands to a union of fixed chains with one output
    row per PATH (a diamond yields two (a,d) rows); <-[e]- reverses
    the edge; cycles=none forbids repeated node bindings."""
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'a','c', 'b','d', 'c','d'
      ];
      E | make-graph src --> dst
        | graph-match (s)-[*1..3]->(t) project s, t
    """).collect()
    got = sorted((r["s"], r["t"]) for r in rows)
    # 4 one-hop paths + two 2-hop a->d paths (per-path emission)
    assert got == [("a", "b"), ("a", "c"), ("a", "d"), ("a", "d"),
                   ("b", "d"), ("c", "d")]
    rows2 = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'u1','n1', 'u2','n1', 'u3','n2'
      ];
      E | make-graph src --> dst
        | graph-match cycles=none (p)-[e1]->(n)<-[e2]-(q)
            project p, q
    """).collect()
    assert sorted((r["p"], r["q"]) for r in rows2) == [
        ("u1", "u2"), ("u2", "u1")]


def test_row_window_session_duration_gap_restart(spark, sf_dir):
    """row_window_session: session-FIRST value per row; new session on
    duration cap (the non-windowable rule: start depends recursively
    on prior start), on gap > max_between, on the restart predicate,
    and per partition key."""
    rows = kql(spark, sf_dir, """
      range i from 0 to 24 step 1
        | extend ts = datetime_add('minute', toint(i),
                                   datetime(2024-01-01))
        | sort by ts asc
        | extend s = row_window_session(ts, 10m, 2m)
        | project i, m = datetime_diff('minute', s,
                                       datetime(2024-01-01))
    """).collect()
    # 1-minute spacing, gap never trips, 10m duration cap ->
    # sessions start at minutes 0, 11, 22
    assert {r["i"]: r["m"] for r in rows} == {
        i: (i // 11) * 11 for i in range(25)}
    rows2 = kql(spark, sf_dir, """
      datatable (u:long, t:long, brk:bool) [
        1, 0, false,  1, 1, false,  1, 5, false,  1, 6, true,
        2, 0, false,  2, 9, false
      ]
      | extend ts = datetime_add('minute', toint(t),
                                 datetime(2024-01-01))
      | partition by u (
          sort by ts asc
          | extend s = row_window_session(ts, 1h, 2m, brk)
        )
      | project u, t, m = datetime_diff('minute', s,
                                        datetime(2024-01-01))
    """).collect()
    assert sorted((r["u"], r["t"], r["m"]) for r in rows2) == [
        (1, 0, 0), (1, 1, 0), (1, 5, 5), (1, 6, 6),
        (2, 0, 0), (2, 9, 9)]
    with pytest.raises(ValueError, match="needs a preceding"):
        kql(spark, sf_dir, """
          datatable (t:long) [1]
            | extend s = row_window_session(t, 10, 2)
        """)


def test_graph_shortest_paths_min_hops(spark, sf_dir):
    """graph-shortest-paths: minimal-hop pairs within the bounded
    range; output=any emits one row per pair, output=all keeps every
    binding at the minimal length and drops longer paths (a->d is
    1 hop directly, so its 2-hop diamond paths disappear)."""
    pre = """
      let E = datatable (src:string, dst:string) [
        'a','b', 'a','c', 'b','d', 'c','d', 'd','e', 'a','d'
      ];
      E | make-graph src --> dst
    """
    rows = kql(spark, sf_dir, pre + """
      | graph-shortest-paths (s)-[*1..4]->(t) project s, t, hops
    """).collect()
    got = {(r["s"], r["t"]): r["hops"] for r in rows}
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 1,
                   ("a", "e"): 2, ("b", "d"): 1, ("b", "e"): 2,
                   ("c", "d"): 1, ("c", "e"): 1 + 1, ("d", "e"): 1}
    assert len(rows) == 9  # output=any: one row per pair
    rows2 = kql(spark, sf_dir, pre + """
      | graph-shortest-paths output=all (s)-[*1..4]->(t)
          where t == 'd' project s, t, hops
    """).collect()
    assert sorted((r["s"], r["hops"]) for r in rows2) == [
        ("a", 1), ("b", 1), ("c", 1)]
    with pytest.raises(ValueError, match="pattern must be"):
        kql(spark, sf_dir, pre +
            "| graph-shortest-paths (s)-[e]->(t) project s")


def test_graph_mark_components(spark, sf_dir):
    """graph-mark-components: undirected components, min-id canonical
    labels, node properties joined when a node table is bound."""
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'b','a', 'b','c', 'x','y' ];
      let N = datatable (id:string, team:string) [
        'a','t1', 'b','t1', 'c','t1', 'x','t2', 'y','t2', 'z','t3' ];
      E | make-graph src --> dst with N on id
        | graph-mark-components with_component_id=cid
    """).collect()
    got = {r["id"]: (r["cid"], r["team"]) for r in rows}
    # z is edge-less: its own singleton component (from the node table)
    assert got == {"a": ("a", "t1"), "b": ("a", "t1"),
                   "c": ("a", "t1"), "x": ("x", "t2"),
                   "y": ("x", "t2"), "z": ("z", "t3")}
    with pytest.raises(ValueError, match="make-graph"):
        kql(spark, sf_dir, "nation | graph-mark-components")


def test_graph_mark_components_round_cap(spark, sf_dir):
    """A 30-node path needs 29 label-changing rounds, over the cap of
    20. Its partial labels would report 10 components for one path, so
    the stage must raise instead, naming the cap."""
    from azure_kusto_parquet_conv_spark.operators.dedup import (
        ConvergenceError)

    edges = ", ".join(f"{i},{i + 1}" for i in range(29))
    with pytest.raises(ConvergenceError, match="max_iter=20"):
        kql(spark, sf_dir, f"""
          let E = datatable (src:long, dst:long) [ {edges} ];
          E | make-graph src --> dst | graph-mark-components
        """).collect()


def test_graph_match_rejections(spark, sf_dir):
    """Documented subset boundaries fail loudly: graph-match without
    make-graph, disconnected patterns (a cartesian at scale), missing
    project, named var-length edges, node properties without a node
    table, bare edge vars."""
    pre = """
      let E = datatable (src:string, dst:string) ['a','b', 'b','c'];
      E | make-graph src --> dst
    """
    with pytest.raises(ValueError, match="make-graph"):
        kql(spark, sf_dir,
            "nation | graph-match (a)-[e]->(b) project a")
    with pytest.raises(ValueError, match="disconnected"):
        kql(spark, sf_dir, pre + """
          | graph-match (a)-[e]->(b), (x)-[f]->(y) project a, x
        """)
    with pytest.raises(ValueError, match="requires a project"):
        kql(spark, sf_dir, pre + "| graph-match (a)-[e]->(b)")
    with pytest.raises(ValueError, match="anonymous"):
        kql(spark, sf_dir, pre + """
          | graph-match (a)-[e*1..2]->(b) project a, b
        """)
    with pytest.raises(ValueError, match="no\\s+property table"):
        kql(spark, sf_dir, pre + """
          | graph-match (a)-[e]->(b) project x = a.name
        """)
    with pytest.raises(ValueError, match="bare edge variable"):
        kql(spark, sf_dir, pre + """
          | graph-match (a)-[e]->(b) project e
        """)
    with pytest.raises(ValueError, match="hop range"):
        kql(spark, sf_dir, pre + """
          | graph-match (a)-[*1..20]->(b) project a, b
        """)


def test_global_serialize_guard_errors_above_row_limit(spark, sf_dir):
    """Unscoped serialized ops (prev/row_number/scan/...) compile to a
    single-partition global sort. Under the row limit that's a
    UserWarning (behavior unchanged); above it the compile ERRORS
    unless the session opts in (r6 verdict demand #3). The probe is a
    short-circuiting limit(n+1).count(), so big inputs don't pay a
    full scan."""
    q = "lineitem | sort by l_orderkey asc | extend rn = row_number()"
    limit_key = "spark.kql.globalSerialize.rowLimit"
    allow_key = "spark.kql.globalSerialize.allow"
    try:
        # tiny limit -> sf0.001 lineitem (~6k rows) exceeds it
        spark.conf.set(limit_key, "100")
        with pytest.raises(ValueError, match="global sort.*exceeds"):
            kql(spark, sf_dir, q)
        # explicit opt-out: warning stays, no error
        spark.conf.set(allow_key, "true")
        with pytest.warns(UserWarning, match="single-partition"):
            kql(spark, sf_dir, q).limit(1).collect()
        spark.conf.unset(allow_key)
        # under the limit: warning only (default-config behavior)
        spark.conf.set(limit_key, str(10**9))
        with pytest.warns(UserWarning, match="single-partition"):
            out = kql(spark, sf_dir, q + " | take 3")
        assert out.count() == 3
        # the guard also covers the stateful ops (scan)
        spark.conf.set(limit_key, "100")
        with pytest.raises(ValueError, match="global sort.*exceeds"):
            kql(spark, sf_dir, """
              lineitem | sort by l_orderkey asc
                | scan with (step s1: l_quantity > 0;)
            """)
    finally:
        spark.conf.unset(limit_key)
        spark.conf.unset(allow_key)


def test_global_serialize_guard_probes_once_per_stage(spark, sf_dir):
    """The unscoped serialized calls of one stage read the same input
    rows, so compiling the stage runs ONE row-count probe however many
    calls it renders, nested ones included."""
    import itertools
    import warnings
    sc = spark.sparkContext
    seq = itertools.count()

    def compile_jobs(tail: str) -> int:
        group = f"test-serial-probe-{next(seq)}"
        sc.setJobGroup(group, "compile-time jobs of one KQL stage")
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                kql(spark, sf_dir,
                    f"lineitem | sort by l_orderkey asc | {tail}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # a session's first compile over lineitem runs one more job than
    # later ones: warm up so `one` counts the probe alone
    compile_jobs("extend a = prev(l_quantity)")
    one = compile_jobs("extend a = prev(l_quantity)")
    assert one >= 1  # the probe itself
    assert compile_jobs("extend a = prev(l_quantity), "
                        "b = next(l_quantity), c = row_number()") <= one
    assert compile_jobs("extend a = prev(l_quantity) + next(l_quantity) "
                        "+ row_number()") <= one
    assert compile_jobs("extend r = row_number(1, "
                        "l_orderkey != prev(l_orderkey))") <= one


def test_expand_col_patterns_only_star_is_wild(spark, sf_dir):
    """Kusto wildcards support ONLY '*': '?' and '[...]' are literal
    column-name characters, not glob metacharacters (r6 advice —
    fnmatch silently matched/dropped such names)."""
    from azure_kusto_parquet_conv_spark.kql import (
        Tok, _expand_col_patterns)

    def expand(pattern_text, cols):
        # built directly as one token group: the KQL tokenizer itself
        # rejects '?', but column names carrying such characters still
        # reach the matcher via the schema side
        return _expand_col_patterns([[Tok("ident", pattern_text)]], cols)

    cols = ["a?b", "axb", "col[1]", "col1", "x"]
    # a literal-name pattern without '*' passes through verbatim —
    # never expanded, so '?' cannot match 'axb'
    assert expand("xyz", cols) == ["xyz"]
    # '*' patterns: '?' and '[...]' inside them stay literal
    assert expand("a?*", cols) == ["a?b"]
    assert expand("col[*", cols) == ["col[1]"]
    assert expand("col*", cols) == ["col[1]", "col1"]
    # regex metacharacters in names must not explode or misfire
    assert expand("*.b*", ["a.b", "axb"]) == ["a.b"]


def test_round6_features_compose(spark, sf_dir):
    """Kitchen-sink: set statements + tabular invoke + dynamic paths +
    datetime math + serialized ops + reduce + find compose in one
    session without interfering."""
    rows = kql(spark, sf_dir, """
      set notruncation;
      let of_kind = (T:(*), kind:string) {
        T | where event_type == kind
      };
      events
        | invoke of_kind('error')
        | extend d = parse_json(props)
        | where isnotnull(d.k) and d.k !in (-1, -2)
        | extend day = startofday(ts),
                 hrs = datetime_diff('hour', ts, startofday(ts))
        | where hrs between (0 .. 23)
        | summarize n = count() by day
        | sort by day asc
        | extend cum = row_cumsum(n), rnk = row_rank_dense(n)
    """).collect()
    assert len(rows) > 0
    cums = [r["cum"] for r in rows]
    assert cums == sorted(cums) and cums[-1] == sum(r["n"] for r in rows)
    # reduce + find in the same compiler instance semantics
    red = kql(spark, sf_dir, """
      find in (region, nation) where r_regionkey >= 0 or n_regionkey >= 0
        | extend tag = strcat(source_, ' #', tostring(
            coalesce(r_regionkey, n_regionkey)))
        | reduce by tag
    """).collect()
    pats = {r["Pattern"]: r["Count"] for r in red}
    assert pats.get("region #*") == 5 and pats.get("nation #*") == 25


def test_geo_distance_and_circle(spark, sf_dir):
    """geo_distance_2points: haversine on the mean-radius sphere —
    London-Paris ~343.6 km, antipodal-safe clamping; point-in-circle
    classifies by the same metric."""
    r = kql(spark, sf_dir, """
      print d = geo_distance_2points(-0.1278, 51.5074, 2.3522, 48.8566),
            z = geo_distance_2points(10.0, 20.0, 10.0, 20.0),
            anti = geo_distance_2points(0.0, 0.0, 180.0, 0.0),
            inc = geo_point_in_circle(-0.11, 51.51,
                                      -0.1278, 51.5074, 2000),
            outc = geo_point_in_circle(2.35, 48.85,
                                       -0.1278, 51.5074, 2000)
    """).collect()[0]
    assert abs(r["d"] / 1000 - 343.6) < 0.5
    assert r["z"] == 0.0
    import math
    assert abs(r["anti"] - math.pi * 6371009.0) < 1.0
    assert r["inc"] is True and r["outc"] is False


def test_geo_polygon_rejects_antimeridian_ring(spark, sf_dir):
    """r10 ADVICE pin: the planar even-odd cast cannot represent a
    ring crossing the +/-180 meridian; rather than silently returning
    wrong containment, compile fails with the split-the-polygon hint."""
    with pytest.raises(ValueError, match="antimeridian"):
        kql(spark, sf_dir, """
          print p = geo_point_in_polygon(179.5, 0.0, dynamic(
            {"type":"Polygon","coordinates":
             [[[170,-10],[-170,-10],[-170,10],[170,10],[170,-10]]]}))
        """)


def test_summarize_percentiles_tuple_assign(spark, sf_dir):
    """summarize (p50, p95) = percentiles(v, 50, 95) by k: Kusto's
    tuple aggregate — one percentile-array aggregate split
    positionally, composing with keys and other aggregates."""
    rows = kql(spark, sf_dir, """
      datatable (k:string, v:long) [
        'a',1, 'a',2, 'a',3, 'a',4, 'a',5, 'a',6, 'a',7, 'a',8,
        'a',9, 'a',10, 'b',100, 'b',200]
        | summarize (p0, p50, p100) = percentiles(v, 0, 50, 100),
                    n = count() by k
    """).collect()
    got = {r["k"]: (r["p0"], r["p50"], r["p100"], r["n"]) for r in rows}
    assert got["a"] == (1.0, 5.5, 10.0, 10)
    assert got["b"] == (100.0, 150.0, 200.0, 2)
    with pytest.raises(ValueError, match="tuple assignment supports"):
        kql(spark, sf_dir,
            "datatable (v:long) [1] | summarize (a, b) = dcount(v)")


def test_arg_max_star_latest_row(spark, sf_dir):
    """summarize arg_max(ts, *) by key: the whole winning row per
    entity — Kusto's latest-record idiom; arg_min(*) symmetric; group
    keys are not duplicated."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, t:long, v:string) [
        1, 5, 'old', 1, 9, 'new', 2, 1, 'only']
        | summarize arg_max(t, *) by u
    """).collect()
    got = {r["u"]: (r["t"], r["v"]) for r in rows}
    assert got == {1: (9, "new"), 2: (1, "only")}
    rows2 = kql(spark, sf_dir, """
      events
        | summarize arg_min(ts, *) by user_id
        | project user_id, event_id
    """).collect()
    w_first = {r["user_id"]: r["event_id"] for r in rows2}
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    want = {r["user_id"]: r["event_id"] for r in
            ev.withColumn("rn", F.row_number().over(w))
              .where("rn = 1").collect()}
    # min_by ties are arbitrary like Kusto; compare only where the min
    # ts is unique
    dup = {r["user_id"] for r in
           ev.groupBy("user_id", "ts").count().where("count > 1")
             .join(ev.groupBy("user_id").agg(F.min("ts").alias("ts")),
                   ["user_id", "ts"]).collect()}
    for u, eid in want.items():
        if u not in dup:
            assert w_first[u] == eid


def test_dynamic_literals(spark, sf_dir):
    """dynamic(...) literals: flat numeric/string arrays become NATIVE
    arrays (series/array functions consume them directly), null gaps
    stay consumable by fills, bags and nesting land on VARIANT."""
    r = kql(spark, sf_dir, """
      print a = dynamic([1.0, 3.0, 5.0]),
            b = dynamic(["x", "y"]),
            c = dynamic([1, 2, 3]),
            d = dynamic({"k": 7, "s": "v"}),
            e = dynamic([10.0, null, 30.0])
        | extend s = series_sum(a), first_b = strcat_array(b, '|'),
                 ksum = tolong(d.k) + array_length(c),
                 lin = series_fill_linear(e)
    """).collect()[0]
    assert r["s"] == 9.0
    assert r["first_b"] == "x|y"
    assert r["ksum"] == 10
    assert r["lin"] == [10.0, 20.0, 30.0]
    with pytest.raises(ValueError, match="not valid JSON"):
        kql(spark, sf_dir, "print x = dynamic([1, )")


def test_bag_keys_jaccard_set_element(spark, sf_dir):
    """bag_keys over dynamic bags, jaccard_index over arrays (null on
    two empties), set_has_element."""
    r = kql(spark, sf_dir, """
      print d = dynamic({"a": 1, "b": {"c": 2}})
        | extend ks = bag_keys(d),
                 j = jaccard_index(dynamic([1, 2, 3]), dynamic([2, 3, 4])),
                 h = set_has_element(dynamic(["x", "y"]), 'y'),
                 h2 = set_has_element(dynamic(["x"]), 'z')
    """).collect()[0]
    assert sorted(r["ks"]) == ["a", "b"]
    assert abs(r["j"] - 0.5) < 1e-9
    assert (r["h"], r["h2"]) == (True, False)


def test_series_dot_cosine_and_unary(spark, sf_dir):
    """series_dot_product / series_cosine_similarity (null on zero
    norms) and elementwise series_abs/exp/log/sign/sqrt/pow."""
    r = kql(spark, sf_dir, """
      print a = dynamic([1.0, 2.0, 3.0]), b = dynamic([2.0, 4.0, 6.0])
        | extend dp = series_dot_product(a, b),
                 cs = series_cosine_similarity(a, b),
                 z = series_cosine_similarity(a, dynamic([0.0, 0.0, 0.0])),
                 ab = series_abs(dynamic([-1.0, 2.0])),
                 sg = series_sign(dynamic([-5.0, 0.0, 9.0])),
                 sq = series_sqrt(dynamic([4.0, 9.0])),
                 pw = series_pow(dynamic([2.0, 3.0]), 2)
    """).collect()[0]
    assert r["dp"] == 28.0
    assert abs(r["cs"] - 1.0) < 1e-12
    assert r["z"] is None
    assert r["ab"] == [1.0, 2.0] and r["sg"] == [-1.0, 0.0, 1.0]
    assert r["sq"] == [2.0, 3.0] and r["pw"] == [4.0, 9.0]


def test_series_stats_bag_and_tuple(spark, sf_dir):
    """series_stats_dynamic: one-pass stats bag (0-based first-extreme
    indexes, population stdev) + the tuple-assign form."""
    r = kql(spark, sf_dir, """
      print y = dynamic([3.0, 1.0, 4.0, 1.0, 5.0])
        | extend s = series_stats_dynamic(y)
        | project mn = todouble(s.min), mni = tolong(s.min_idx),
                  mx = todouble(s.max), mxi = tolong(s.max_idx),
                  av = todouble(s.avg), sd = todouble(s.stdev)
    """).collect()[0]
    assert (r["mn"], r["mni"], r["mx"], r["mxi"]) == (1.0, 1, 5.0, 4)
    assert abs(r["av"] - 2.8) < 1e-9
    import statistics
    assert abs(r["sd"] - statistics.pstdev([3, 1, 4, 1, 5])) < 1e-9
    r2 = kql(spark, sf_dir, """
      print y = dynamic([3.0, 1.0, 4.0])
        | extend (mn, mni, mx) = series_stats(y)
    """).collect()[0]
    assert (r2["mn"], r2["mni"], r2["mx"]) == (1.0, 1.0, 4.0)
    # full 7-name tuple: Kusto's documented order is (min, min_idx,
    # max, max_idx, avg, stdev, variance) — stdev BEFORE variance
    # (r6 advice: the swap was unpinned when only 3 names were bound)
    import statistics
    r3 = kql(spark, sf_dir, """
      print y = dynamic([3.0, 1.0, 4.0, 1.0, 5.0])
        | extend (mn, mni, mx, mxi, av, sd, var) = series_stats(y)
    """).collect()[0]
    assert abs(r3["sd"] - statistics.pstdev([3, 1, 4, 1, 5])) < 1e-9
    assert abs(r3["var"] - statistics.pvariance([3, 1, 4, 1, 5])) < 1e-9
    assert abs(r3["av"] - 2.8) < 1e-9


def test_countof_regex_kind(spark, sf_dir):
    """countof(text, pattern, 'regex') counts regex matches; plain
    kind still counts non-overlapping literals; bad kind rejected."""
    r = kql(spark, sf_dir, """
      print n = countof('a1b22c333', '[0-9]+', 'regex'),
            m = countof('aaaa', 'aa')
    """).collect()[0]
    assert (r["n"], r["m"]) == (3, 2)
    with pytest.raises(ValueError, match="kind"):
        kql(spark, sf_dir, "print x = countof('a', 'a', 'weird')")


# -------------------------------------------------- r8 advice-fix pins

def test_fork_child_state_isolated(spark, sf_dir):
    """r7 advice #1: a `sort by` inside one fork child must not leak
    serialized order into sibling children or post-fork stages — a
    later row_number() without its own sort raises instead of
    silently reusing the sibling's order."""
    rows = kql(spark, sf_dir, """
      datatable (t:long, v:long) [1, 10, 2, 20]
        | fork a = (sort by t desc | extend r = row_number())
               b = (extend w = v * 2)
    """).collect()
    got = {(r["fork_name"], r["t"], r["r"], r["w"]) for r in rows}
    assert got == {("a", 2, 1, None), ("a", 1, 2, None),
                   ("b", 1, None, 20), ("b", 2, None, 40)}
    # sibling after a sorting child: must NOT see child a's order
    with pytest.raises(ValueError, match="sort"):
        kql(spark, sf_dir, """
          datatable (t:long) [1, 2]
            | fork a = (sort by t desc | extend r = row_number())
                   b = (extend r2 = row_number())
        """)
    # post-fork stage: order must not survive the fork either
    with pytest.raises(ValueError, match="sort"):
        kql(spark, sf_dir, """
          datatable (t:long) [1, 2]
            | fork a = (sort by t desc | extend r = row_number())
                   b = (extend w = t)
            | extend r3 = row_number()
        """)


def test_fork_facet_persist_bounded(spark, sf_dir):
    """r7 advice #5 + r8 advice #1: persist() handles are bounded at
    COMPILER-GROUP granularity — a long session unpersists entire older
    queries' caches once more than _PERSIST_KEEP compilers accumulate,
    while the current query's own handles are never evicted mid-query
    (materialize()'s evaluate-once contract survives any per-query
    fanout)."""
    from azure_kusto_parquet_conv_spark import kql as kql_mod
    kql_mod._persisted_groups.clear()
    first = None
    for i in range(kql_mod._PERSIST_KEEP + 2):
        kql(spark, sf_dir, f"""
          datatable (a:long, b:long) [1, {i}, 2, {i + 1}]
            | facet by a, b
        """).collect()
        if first is None:
            first = kql_mod._persisted_groups[0][1][0]
    assert len(kql_mod._persisted_groups) <= kql_mod._PERSIST_KEEP
    # the evicted first group's handle is fully unpersisted
    assert not first.storageLevel.useMemory \
        and not first.storageLevel.useDisk


def test_own_query_persist_never_evicted_midquery(spark, sf_dir):
    """A single query with a materialized let plus more persist sites
    than _PERSIST_KEEP keeps ALL its handles live until the action runs:
    eviction is group-scoped, and the currently-compiling query is by
    construction the newest group. (Before r9 a >4-site query evicted
    its own materialize handle pre-action, silently recomputing the
    body — the evaluate-once contract broke for rand()/new_guid().)"""
    from azure_kusto_parquet_conv_spark import kql as kql_mod
    kql_mod._persisted_groups.clear()
    # materialize + 4 facet persists in ONE query = 5 handles, > KEEP
    df = kql(spark, sf_dir, """
      let M = materialize(datatable (a:long, b:long) [1, 10, 2, 20]);
      M | facet by a, b
    """)
    # simulate heavy same-query fanout: register extra handles in the
    # SAME compiler group and check none evict
    (owner, handles) = kql_mod._persisted_groups[0]
    extra = [kql_mod._register_persist(
        owner, spark.range(3).toDF("x")) for _ in range(
            kql_mod._PERSIST_KEEP + 1)]
    assert all(h.storageLevel.useMemory or h.storageLevel.useDisk
               for h in handles + extra)
    df.collect()


def test_parse_kv_quote_first_occurrence_wins(spark, sf_dir):
    """r7 advice #4: when the same key appears first unquoted then
    quoted in one line, parse-kv must return the FIRST occurrence
    (Kusto: first wins), not '' from a group mismatch."""
    rows = kql(spark, sf_dir, """
      datatable (line:string) [
        'msg=plain pri=3 msg="later"',
        'msg="quoted first" pri=4 msg=loser',
        'pri=5 msg="only quoted"'
      ]
      | parse-kv line as (msg:string, pri:long)
          with (pair_delimiter=' ', kv_delimiter='=', quote='"')
      | project msg, pri
    """).collect()
    got = {(r["msg"], r["pri"]) for r in rows}
    assert got == {("plain", 3), ("quoted first", 4),
                   ("only quoted", 5)}


def test_row_window_session_null_value_does_not_poison(spark, sf_dir):
    """r7 advice #2: a null session-expression value emits null for
    that row only and forces the NEXT non-null row to start a fresh
    session, instead of poisoning the rest of the key's output."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, t:long, raw:string) [
        1, 1, '2024-01-01 00:00:00',
        1, 2, '',
        1, 3, '2024-01-01 00:00:05',
        1, 4, '2024-01-01 00:00:06'
      ]
      | extend ts = todatetime(raw)
      | partition by u (
          sort by t asc
          | extend s = row_window_session(ts, 1h, 1m)
        )
      | project t, s
    """).collect()
    got = {r["t"]: (None if r["s"] is None else str(r["s"])) for r in rows}
    assert got[1] == "2024-01-01 00:00:00"
    assert got[2] is None
    assert got[3] == "2024-01-01 00:00:05"
    assert got[4] == "2024-01-01 00:00:05"


def test_graph_match_cycles_unique_edges_default(spark, sf_dir):
    """r7 advice #3: graph-match defaults to Kusto's
    cycles=unique_edges — a walk reusing the same edge (self-loop
    twice) is excluded by default and included under cycles=all."""
    pre = """
      let E = datatable (src:string, dst:string) [
        'a','a', 'a','b'
      ];
      E | make-graph src --> dst
    """
    rows = kql(spark, sf_dir, pre + """
      | graph-match (x)-[*2..2]->(y) project x, y
    """).collect()
    assert sorted((r["x"], r["y"]) for r in rows) == [("a", "b")]
    rows2 = kql(spark, sf_dir, pre + """
      | graph-match cycles=all (x)-[*2..2]->(y) project x, y
    """).collect()
    assert sorted((r["x"], r["y"]) for r in rows2) == [("a", "a"),
                                                      ("a", "b")]
    # fixed edges: two aliases may not bind the same (src, dst) edge
    rows3 = kql(spark, sf_dir, pre + """
      | graph-match (x)-[e1]->(y)-[e2]->(z) project x, y, z
    """).collect()
    assert sorted((r["x"], r["y"], r["z"]) for r in rows3) == [
        ("a", "a", "b")]
    rows4 = kql(spark, sf_dir, pre + """
      | graph-match cycles=all (x)-[e1]->(y)-[e2]->(z)
          project x, y, z
    """).collect()
    assert sorted((r["x"], r["y"], r["z"]) for r in rows4) == [
        ("a", "a", "a"), ("a", "a", "b")]


def test_graph_match_segment_collapse_plan_and_multiplicity(spark,
                                                           sf_dir):
    """r7 verdict #6: a variable-length segment is collapsed to
    (entry, exit, path-count) before joining the rest of the pattern
    — the plan carries the segment Aggregate and a final explode
    restores exact per-path multiplicity (the diamond's two 2-hop
    a->d paths are two rows, as before the collapse)."""
    df = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'a','c', 'b','d', 'c','d', 'd','e'
      ];
      E
      | make-graph src --> dst
      | graph-match (s)-[*1..3]->(t)
          project s, t
    """)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan
    assert "Aggregate" in plan
    from collections import Counter
    got = Counter((r["s"], r["t"]) for r in df.collect())
    # per-path multiplicity: a->d twice at 2 hops, a->e twice at 3
    assert got[("a", "d")] == 2
    assert got[("a", "e")] == 2
    assert got[("a", "b")] == 1


def test_graph_shortest_paths_frontier_plan(spark, sf_dir):
    """r7 verdict #2: graph-shortest-paths runs level-synchronous BFS
    — the optimized plan carries a per-level Aggregate (distinct) for
    every expansion level, so intermediates are frontiers (<= |V|^2),
    not enumerated paths; output on a dense cyclic graph is still the
    exact min-hop table."""
    df = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'b','a', 'b','c', 'c','a', 'c','c'
      ];
      E | make-graph src --> dst
        | graph-shortest-paths (s)-[*1..4]->(t) project s, t, hops
    """)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # 4 levels of distinct + the final per-pair min = >= 5 Aggregates
    assert plan.count("Aggregate") >= 5
    got = {(r["s"], r["t"]): r["hops"] for r in df.collect()}
    assert got == {
        ("a", "b"): 1, ("a", "a"): 2, ("a", "c"): 2,
        ("b", "a"): 1, ("b", "c"): 1, ("b", "b"): 2,
        ("c", "a"): 1, ("c", "c"): 1, ("c", "b"): 2,
    }


def test_active_users_count_stickiness(spark, sf_dir):
    """active_users_count: an id must be active in >= N DISTINCT
    periods inside the lookback to count — two events on the SAME day
    don't qualify at N=2, two events on different days do; the
    trailing window drops users whose qualifying days age out."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-05 08:00:00),
        1, datetime(2024-01-05 09:00:00),
        2, datetime(2024-01-05 08:00:00),
        2, datetime(2024-01-06 08:00:00),
        3, datetime(2024-01-01 08:00:00)
      ]
      | evaluate active_users_count(u, ts,
          datetime(2024-01-02), datetime(2024-01-09), 3d, 1d, 2, 1d)
      | project d = format_datetime(bin, 'yyyy-MM-dd'), dcount
    """).collect()
    got = {r["d"]: r["dcount"] for r in rows}
    # events before Start (u3's 01-01) do not participate (the shared
    # window-plugin contract). u1: two events on ONE day -> never
    # qualifies at N=2. u2: active days 01-05, 01-06 — a bin's
    # trailing (T-3d, T] holds BOTH days only at T = 01-07 00:00
    # (16h + 40h back) and T = 01-08 00:00; at 01-09 the 01-05 day
    # has aged out of the 3-day lookback.
    assert got == {"2024-01-07": 1, "2024-01-08": 1}
    with pytest.raises(ValueError, match="active_periods"):
        kql(spark, sf_dir, """
          datatable (u:long, ts:datetime) [1, datetime(2024-01-01)]
          | evaluate active_users_count(u, ts, datetime(2024-01-01),
              datetime(2024-01-02), 3d, 1d, 0, 1d)
        """)


def test_activity_metrics_retention_churn(spark, sf_dir):
    """activity_metrics: retained = active in both previous and
    current window, rates over the PREVIOUS window's dcount; first
    window rates are 0.0; new ids counted at first appearance only."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-01 08:00:00),
        2, datetime(2024-01-01 09:00:00),
        1, datetime(2024-01-02 08:00:00),
        3, datetime(2024-01-02 09:00:00),
        3, datetime(2024-01-03 08:00:00)
      ]
      | evaluate activity_metrics(u, ts,
          datetime(2024-01-01), datetime(2024-01-04), 1d)
      | project d = format_datetime(bin, 'yyyy-MM-dd'), dcount_values,
                dcount_newvalues, retention_rate, churn_rate
    """).collect()
    got = {r["d"]: (r["dcount_values"], r["dcount_newvalues"],
                    r["retention_rate"], r["churn_rate"])
           for r in rows}
    assert got == {
        # day1: {1,2} both new; no previous -> rates 0
        "2024-01-01": (2, 2, 0.0, 0.0),
        # day2: {1,3}; 3 new; retained {1} of prev {1,2} -> 0.5
        "2024-01-02": (2, 1, 0.5, 0.5),
        # day3: {3}; none new; retained {3} of prev {1,3} -> 0.5
        "2024-01-03": (1, 0, 0.5, 0.5),
    }


def test_session_count_gaps_and_islands(spark, sf_dir):
    """session_count: a session spans [first event, last event +
    lookback); a gap > lookback starts a new session; concurrent
    sessions of different ids both count at a bin."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-01 00:30:00),
        1, datetime(2024-01-01 01:30:00),
        1, datetime(2024-01-01 23:30:00),
        2, datetime(2024-01-02 23:59:00)
      ]
      | evaluate session_count(u, ts,
          datetime(2024-01-01), datetime(2024-01-04), 1d, 2h)
      | project d = format_datetime(bin, 'yyyy-MM-dd'), count_
    """).collect()
    got = {r["d"]: r["count_"] for r in rows}
    # u1 session A: [00:30, 03:30) — covers no midnight bin;
    # u1 session B: [23:30, 01-02 01:30) — active at 01-02 00:00;
    # u2 session:   [01-02 23:59, 01-03 01:59) — active at 01-03 00:00
    assert got == {"2024-01-02": 1, "2024-01-03": 1}


def test_new_activity_metrics_cohorts(spark, sf_dir):
    """new_activity_metrics: cohort = ids FIRST seen in `from`;
    retained = cohort members active in `to`; diagonal retention is
    1.0; a returning id never re-enters a later cohort."""
    rows = kql(spark, sf_dir, """
      datatable (u:long, ts:datetime) [
        1, datetime(2024-01-01 08:00:00),
        2, datetime(2024-01-01 09:00:00),
        1, datetime(2024-01-02 08:00:00),
        3, datetime(2024-01-02 09:00:00),
        2, datetime(2024-01-03 08:00:00)
      ]
      | evaluate new_activity_metrics(u, ts,
          datetime(2024-01-01), datetime(2024-01-04), 1d)
      | project f = format_datetime(from_bin, 'dd'),
                t = format_datetime(to_bin, 'dd'),
                dcount_new_values, dcount_retained_newvalues,
                dcount_churn_newvalues, retention_rate
    """).collect()
    got = {(r["f"], r["t"]): (r["dcount_new_values"],
                              r["dcount_retained_newvalues"],
                              r["dcount_churn_newvalues"],
                              r["retention_rate"])
           for r in rows}
    assert got == {
        # day-1 cohort {1,2}: day1 both (diagonal), day2 only u1,
        # day3 only u2
        ("01", "01"): (2, 2, 0, 1.0),
        ("01", "02"): (2, 1, 1, 0.5),
        ("01", "03"): (2, 1, 1, 0.5),
        # day-2 cohort {3} (u1 is NOT new on day 2): active day2 only
        ("02", "02"): (1, 1, 0, 1.0),
    }


def test_activity_metrics_scans_input_once(spark, sf_dir):
    """The multi-branch activity plugins persist their shared frame:
    the executed plan reads the cached distinct (window, id) frame
    (InMemoryTableScan) instead of re-scanning raw events per branch."""
    df = kql(spark, sf_dir, """
      events
        | evaluate activity_metrics(user_id, ts,
            datetime(2024-01-01), datetime(2024-01-31), 1d)
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_ipv4_lookup_longest_prefix_and_unmatched(spark, sf_dir):
    """ipv4_lookup: longest prefix wins among overlapping networks;
    /32 exact hosts match; invalid IPs and non-members drop (inner)
    or survive with null lookup columns (return_unmatched=true); a
    lookup column name collision is rejected."""
    pre = """
      let L = datatable (net:string, tag:string) [
        '10.0.0.0/8', 'corp',
        '10.1.0.0/16', 'branch',
        '10.1.2.0/24', 'lab',
        '192.168.0.5', 'host'
      ];
    """
    rows = kql(spark, sf_dir, pre + """
      datatable (ip:string) [
        '10.1.2.3', '10.1.9.9', '10.9.9.9', '192.168.0.5',
        '172.16.0.1', 'bogus'
      ]
      | evaluate ipv4_lookup(L, ip, net)
    """).collect()
    assert sorted((r["ip"], r["tag"]) for r in rows) == [
        ("10.1.2.3", "lab"), ("10.1.9.9", "branch"),
        ("10.9.9.9", "corp"), ("192.168.0.5", "host")]
    # Kusto returns the lookup key (CIDR) column with the match
    assert sorted((r["ip"], r["net"]) for r in rows) == [
        ("10.1.2.3", "10.1.2.0/24"), ("10.1.9.9", "10.1.0.0/16"),
        ("10.9.9.9", "10.0.0.0/8"), ("192.168.0.5", "192.168.0.5")]
    # duplicate equal-length networks: ties break deterministically on
    # the CIDR key text (identical enrichment across repeated runs)
    dup = """
      let L = datatable (net:string, tag:string) [
        '10.1.0.0/16', 'zeta',
        '10.1.0.0/16', 'alpha'
      ];
      datatable (ip:string) ['10.1.2.3']
      | evaluate ipv4_lookup(L, ip, net)
    """
    picks = {kql(spark, sf_dir, dup).collect()[0]["tag"]
             for _ in range(3)}
    assert picks == {"alpha"}  # total order: key text, then tag
    rows2 = kql(spark, sf_dir, pre + """
      datatable (ip:string) ['10.1.2.3', '9.9.9.9']
      | evaluate ipv4_lookup(L, ip, net, return_unmatched=true)
    """).collect()
    assert sorted((r["ip"], r["tag"]) for r in rows2) == [
        ("10.1.2.3", "lab"), ("9.9.9.9", None)]
    with pytest.raises(ValueError, match="collide"):
        kql(spark, sf_dir, """
          let L = datatable (net:string, ip:string) ['10.0.0.0/8', 'x'];
          datatable (ip:string) ['10.1.2.3']
          | evaluate ipv4_lookup(L, ip, net)
        """)


def test_math_scalars_batch(spark, sf_dir):
    """r8 math scalars: log family, exp2/exp10, trig, degrees/radians,
    sign/sqrt/pow, isnan/isfinite/isinf, array_sum/avg/index_of
    (0-based, -1 missing, numeric and string arrays)."""
    r = kql(spark, sf_dir, """
      print x = 2.0
        | extend l = log(x), l2 = log2(8.0), l10 = log10(100.0),
                 e2 = exp2(3.0), e10 = exp10(2.0),
                 a2 = round(atan2(1.0, 1.0), 4),
                 dg = degrees(3.141592653589793),
                 rd = round(radians(180.0), 4),
                 sg = sign(-3.5), sq = sqrt(16.0), pw = pow(2.0, 10.0),
                 nn = isnan(x), fin = isfinite(x), inf = isinf(x),
                 asum = array_sum(pack_array(1.0, 2.0, 3.5)),
                 aavg = array_avg(pack_array(2.0, 4.0)),
                 aix = array_index_of(pack_array(5, 7, 9), 7),
                 amiss = array_index_of(pack_array(5, 7), 8),
                 astr = array_index_of(pack_array('a', 'b'), 'b')
    """).collect()[0]
    assert abs(r["l"] - 0.6931471805599453) < 1e-12
    assert (r["l2"], r["l10"], r["e2"], r["e10"]) == (3.0, 2.0, 8.0,
                                                     100.0)
    assert (r["a2"], r["dg"], r["rd"]) == (0.7854, 180.0, 3.1416)
    assert (r["sg"], r["sq"], r["pw"]) == (-1.0, 4.0, 1024.0)
    assert (r["nn"], r["fin"], r["inf"]) == (False, True, False)
    assert (r["asum"], r["aavg"]) == (6.5, 3.0)
    assert (r["aix"], r["amiss"], r["astr"]) == (1, -1, 1)


def test_math_scalars_null_contracts(spark, sf_dir):
    """r8 advice: isnan/isinf/isfinite return BOOL false on null input
    (never null — Kusto's contract); array_sum/array_avg IGNORE
    null/non-numeric elements instead of poisoning the whole result,
    and array_avg divides by the count actually summed."""
    r = kql(spark, sf_dir, """
      print x = todouble('')
        | extend nn = isnan(x), fin = isfinite(x), inf = isinf(x),
                 asum = array_sum(pack_array(1.0, todouble(''), 3.0)),
                 aavg = array_avg(pack_array(2.0, todouble(''), 4.0)),
                 mixed = array_sum(parse_json('[1, "zap", 2]')),
                 mavg = array_avg(parse_json('[1, "zap", 2]'))
    """).collect()[0]
    assert (r["nn"], r["fin"], r["inf"]) == (False, False, False)
    assert (r["asum"], r["aavg"]) == (4.0, 3.0)
    assert (r["mixed"], r["mavg"]) == (3.0, 1.5)
    # typed null literals (r9): every scalar type has a null spelling
    r2 = kql(spark, sf_dir, """
      print a = long(null), b = real(null), c = bool(null),
            d = datetime(null), e = timespan(null),
            f = isnull(datetime(null))
    """).collect()[0]
    assert (r2["a"], r2["b"], r2["c"], r2["d"], r2["e"]) == (
        None, None, None, None, None)
    assert r2["f"] is True


def test_session_count_start_end_validation(spark, sf_dir):
    """r8 advice: session_count raises on an inverted Start/End range
    instead of silently producing an empty bins spine."""
    with pytest.raises(ValueError, match="End must be >= Start"):
        kql(spark, sf_dir, """
          events
            | evaluate session_count(user_id, ts,
                datetime(2024-02-01), datetime(2024-01-01), 1d, 1h)
        """)


def test_make_graph_undirected(spark, sf_dir):
    """make-graph with `--` binds every edge in both directions: a
    one-way edge list becomes mutually reachable, and
    graph-shortest-paths sees the reverse hops."""
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'b','c'
      ];
      E | make-graph src -- dst
        | graph-shortest-paths (s)-[*1..2]->(t) project s, t, hops
    """).collect()
    got = {(r["s"], r["t"]): r["hops"] for r in rows}
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 1,
                   ("c", "b"): 1, ("a", "c"): 2, ("c", "a"): 2,
                   ("a", "a"): 2, ("b", "b"): 2, ("c", "c"): 2}


def test_series_fft_matches_numpy(spark, sf_dir):
    """series_fft/series_ifft: the Arrow-batched numpy kernel equals
    numpy.fft on a randomized series (real and complex input), and
    ifft(fft(x)) round-trips exactly within 1e-9."""
    import random

    import numpy as np

    rnd = random.Random(8)
    xs = [round(rnd.uniform(-10, 10), 3) for _ in range(16)]
    lit = ", ".join(str(v) for v in xs)
    rows = kql(spark, sf_dir, f"""
      print x = pack_array({lit})
        | extend (fr, fi) = series_fft(x)
        | mv-expand fr to typeof(real), fi to typeof(real)
    """).collect()
    got = [complex(r["fr"], r["fi"]) for r in rows]
    want = np.fft.fft(np.array(xs))
    assert np.allclose(got, want, atol=1e-9)
    rows2 = kql(spark, sf_dir, f"""
      print x = pack_array({lit})
        | extend (fr, fi) = series_fft(x)
        | extend (rr, ri) = series_ifft(fr, fi)
        | mv-expand v = x to typeof(real), rv = rr to typeof(real),
                    iv = ri to typeof(real)
        | project d = abs(v - rv), di = abs(iv)
    """).collect()
    assert max(r["d"] for r in rows2) < 1e-9
    assert max(r["di"] for r in rows2) < 1e-9


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_graph_shortest_paths_random_differential(spark, sf_dir, seed):
    """Property: frontier-BFS graph-shortest-paths equals brute-force
    Python BFS min-hops on random (cyclic, dense-ish) digraphs, for
    every pair within the hop bound."""
    import random
    from collections import deque

    rnd = random.Random(seed)
    nodes = [f"n{i}" for i in range(10)]
    edges = set()
    while len(edges) < 25:
        a, b = rnd.choice(nodes), rnd.choice(nodes)
        edges.add((a, b))
    cells = ", ".join(f"'{a}','{b}'" for a, b in sorted(edges))
    rows = kql(spark, sf_dir, f"""
      let E = datatable (src:string, dst:string) [{cells}];
      E | make-graph src --> dst
        | graph-shortest-paths (s)-[*1..5]->(t) project s, t, hops
    """).collect()
    got = {(r["s"], r["t"]): r["hops"] for r in rows}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    want = {}
    for s in nodes:
        # plain BFS over WALK length: min hops to reach t from s with
        # 1 <= hops <= 5 (self-pairs included via cycles — a node is
        # not "visited" at hop 0, so s can be re-reached)
        frontier, reached = {s}, set()
        for d in range(1, 6):
            nxt = {v for u in frontier for v in adj.get(u, [])}
            new = nxt - reached
            for v in new:
                want[(s, v)] = d
            reached |= nxt
            frontier = new
            if not frontier:
                break
    assert got == want


@pytest.mark.parametrize("seed", [5, 19])
def test_row_window_session_random_differential(spark, sf_dir, seed):
    """Property: the sessionizer kernel equals a Python reference on
    random multi-key streams with NULL values sprinkled in (the r8
    null-reset contract included)."""
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(120):
        u = rnd.randrange(4)
        t = rnd.randrange(1000)
        v = None if rnd.random() < 0.12 else rnd.randrange(500)
        rows.append((u, i, t, v))
    cells = ", ".join(
        f"{u}, {i}, {t}, '{'' if v is None else v}'"
        for u, i, t, v in rows)
    got_rows = kql(spark, sf_dir, f"""
      datatable (u:long, id:long, t:long, raw:string) [{cells}]
      | extend v = todouble(raw)
      | partition by u (
          sort by t asc, id asc
          | extend s = row_window_session(v, 200, 60)
        )
    """).collect()
    got = {(r["u"], r["id"]): r["s"] for r in got_rows}
    from collections import defaultdict
    by_u = defaultdict(list)
    for u, i, t, v in rows:
        by_u[u].append((t, i, v))
    want = {}
    for u, rs in by_u.items():
        rs.sort()
        prev = first = None
        for t, i, v in rs:
            if v is None:
                prev = first = None
                want[(u, i)] = None
                continue
            if (first is None or (prev is not None and v - prev > 60)
                    or v - first > 200):
                first = v
            prev = v
            want[(u, i)] = float(first)
    assert got == want and len(want) == 120


def test_bag_merge_first_wins_and_types(spark, sf_dir):
    """bag_merge: Kusto's FIRST-occurrence-wins key rule across 2+
    bags; values keep their types through the map<string,variant>
    fold; null/non-object args act as empty bags."""
    r = kql(spark, sf_dir, """
      print m = bag_merge(bag_pack('a', 1, 'k', 'first'),
                          bag_pack('k', 'second', 'b', 2.5),
                          bag_pack('k', 'third', 'c', 'txt'))
        | project j = tostring(m), a = tolong(m.a),
                  b = todouble(m.b), c = tostring(m.c),
                  k = tostring(m.k)
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["k"]) == (1, 2.5, "txt", "first")
    # VARIANT canonicalizes key order; compare the parsed bag
    import json as _json
    assert _json.loads(r["j"]) == {"a": 1, "k": "first", "b": 2.5,
                                   "c": "txt"}
    r2 = kql(spark, sf_dir, """
      print m = bag_merge(dynamic(null), bag_pack('x', 7))
        | project x = tolong(m.x)
    """).collect()[0]
    assert r2["x"] == 7


def test_dcount_intersect_empty_and_exact(spark, sf_dir):
    """dcount_intersect: inclusion-exclusion over sketch unions is
    exact in the sparse regime; an EMPTY audience (all-null sketch)
    behaves as the empty set — its intersections are 0 and it does
    not poison the other columns."""
    rows = kql(spark, sf_dir, """
      range i from 0 to 59 step 1
        | extend g = iff(i < 30, 'p', 'q')
        | summarize A = hll(i), B = hll_if(i, i % 2 == 0),
                    C = hll_if(i, i > 1000) by g
        | evaluate dcount_intersect(A, B, C)
    """).collect()
    got = {r["g"]: (r["s0"], r["s1"], r["s2"]) for r in rows}
    assert got == {"p": (30, 15, 0), "q": (30, 15, 0)}


def test_series_floor_ceiling(spark, sf_dir):
    """r9 series additions: series_floor / series_ceiling are
    elementwise real-valued transforms (Kusto returns real arrays)."""
    r = kql(spark, sf_dir, """
      print f = series_floor(pack_array(1.7, -1.2, 3.0)),
            c = series_ceiling(pack_array(1.2, -1.7, 3.0))
    """).collect()[0]
    assert list(r["f"]) == [1.0, -2.0, 3.0]
    assert list(r["c"]) == [2.0, -1.0, 3.0]


def test_make_bag_merge_and_filter(spark, sf_dir):
    """make_bag merges per-group bags (entries-dedup shape — stays
    stable when composed with the dynamic_to_json UDF, see kql.py);
    make_bag_if drops rows failing the predicate; an all-false group
    yields an EMPTY bag, not null."""
    rows = kql(spark, sf_dir, """
      datatable(id:long, bj:string, keep:bool) [
        1, '{"b": 2, "a": 1}', true,
        1, '{"c": 3}', true,
        2, '{"x": 9}', false
      ]
        | extend b = todynamic(bj)
        | summarize m = make_bag(b), f = make_bag_if(b, keep) by id
        | project id, sm = dynamic_to_json(m), sf = dynamic_to_json(f)
    """).collect()
    got = {r["id"]: (r["sm"], r["sf"]) for r in rows}
    assert got[1] == ('{"a":1,"b":2,"c":3}', '{"a":1,"b":2,"c":3}')
    assert got[2] == ('{"x":9}', "{}")
    # duplicate keys across rows: Kusto picks an arbitrary value —
    # the merged value must be ONE of the candidates
    import json as _json
    r = kql(spark, sf_dir, """
      datatable(id:long, bj:string) [
        1, '{"k": 1}', 1, '{"k": 2}' ]
        | extend b = todynamic(bj)
        | summarize m = make_bag(b) by id
        | project s = tostring(m)
    """).collect()[0]
    assert _json.loads(r["s"])["k"] in (1, 2)


def test_make_bag_dyn2json_stable_across_reruns(spark, sf_dir):
    """Regression pin for the Spark 4.1 UDF-extraction flake: a
    Python UDF consuming to_json of a lambda-fold aggregate fails on
    every execution after a session's first. make_bag avoids the fold
    (entries-dedup), so the same query must succeed on REPEATED
    executions in one session."""
    q = """
      datatable(id:long, bj:string) [ 1, '{"b": 2, "a": 1}' ]
        | extend b = todynamic(bj)
        | summarize bag = make_bag(b) by id
        | project id, s = dynamic_to_json(bag)
    """
    for _ in range(3):
        assert kql(spark, sf_dir, q).collect()[0]["s"] == \
            '{"a":1,"b":2}'


def test_bag_set_remove_keys(spark, sf_dir):
    """bag_set_key upserts (overwrite and add, any value type; a null
    bag seeds empty); bag_remove_keys strips top-level keys and
    ignores absent ones; removing every key leaves an empty bag."""
    r = kql(spark, sf_dir, """
      print b = todynamic('{"a": 1, "b": 2}')
        | project s_over = dynamic_to_json(bag_set_key(b, "b", 99)),
                  s_add = dynamic_to_json(bag_set_key(b, "c", "x")),
                  s_null = dynamic_to_json(bag_set_key(todynamic("null"),
                                                       "k", 5)),
                  s_del = dynamic_to_json(bag_remove_keys(b,
                              dynamic(["a", "nope"]))),
                  s_all = dynamic_to_json(bag_remove_keys(b,
                              dynamic(["a", "b"])))
    """).collect()[0]
    assert r["s_over"] == '{"a":1,"b":99}'
    assert r["s_add"] == '{"a":1,"b":2,"c":"x"}'
    assert r["s_null"] == '{"k":5}'
    assert r["s_del"] == '{"b":2}'
    assert r["s_all"] == "{}"


def test_gettype_vocabulary(spark, sf_dir):
    """gettype speaks Kusto's type names for scalars, dynamics and
    nulls; datetime columns hit the typeof branch (datetimes INSIDE a
    dynamic stringify — documented deviation)."""
    r = kql(spark, sf_dir, """
      print t_bag = gettype(todynamic('{"a":1}')),
            t_long = gettype(5), t_real = gettype(2.0),
            t_str = gettype("s"), t_bool = gettype(true),
            t_arr = gettype(dynamic([1, 2])),
            t_jnull = gettype(todynamic("null")),
            t_tnull = gettype(long(null)),
            t_dt = gettype(datetime(2024-01-01))
    """).collect()[0]
    assert (r["t_bag"], r["t_long"], r["t_real"], r["t_str"],
            r["t_bool"], r["t_arr"], r["t_jnull"], r["t_tnull"],
            r["t_dt"]) == ("dictionary", "long", "real", "string",
                           "bool", "array", "null", "null", "datetime")


def test_percentilew_closed_form(spark, sf_dir):
    """percentilew: smallest value whose running weight reaches P% of
    the total (ascending value order); null and non-positive weights
    drop; weight-1 everywhere degenerates to the unweighted exact
    percentile."""
    rows = kql(spark, sf_dir, """
      datatable(g:string, v:real, w:long) [
        "a", 10.0, 1, "a", 20.0, 8, "a", 30.0, 1,
        "b", 1.0, 5, "b", 2.0, 5,
        "c", 7.0, 0, "c", 8.0, 3
      ]
        | summarize p50 = percentilew(v, w, 50),
                    p95 = percentilew(v, w, 95) by g
    """).collect()
    got = {r["g"]: (r["p50"], r["p95"]) for r in rows}
    # a: weights 1/8/1 of 10 -> cum 1,9,10; 50% = 5 -> 20; 95% -> 30
    assert got["a"] == (20.0, 30.0)
    # b: 50% of 10 = 5 -> first value crosses exactly at 5
    assert got["b"] == (1.0, 2.0)
    # c: zero-weight row drops entirely
    assert got["c"] == (8.0, 8.0)


def test_array_split_edges(spark, sf_dir):
    """array_split: scalar index, index array, negative wrap,
    out-of-range clamp, and an empty index list (single whole-array
    chunk)."""
    r = kql(spark, sf_dir, """
      print arr = dynamic([1, 2, 3, 4, 5])
        | project s_scalar = dynamic_to_json(array_split(arr, 2)),
                  s_multi = dynamic_to_json(array_split(arr,
                                dynamic([1, 3]))),
                  s_neg = dynamic_to_json(array_split(arr, -2)),
                  s_clamp = dynamic_to_json(array_split(arr,
                                dynamic([0, 9]))),
                  s_empty = dynamic_to_json(array_split(arr,
                                dynamic([])))
    """).collect()[0]
    assert r["s_scalar"] == "[[1,2],[3,4,5]]"
    assert r["s_multi"] == "[[1],[2,3],[4,5]]"
    assert r["s_neg"] == "[[1,2,3],[4,5]]"
    assert r["s_clamp"] == "[[],[1,2,3,4,5],[]]"
    assert r["s_empty"] == "[[1,2,3,4,5]]"


def test_has_any_index_terms(spark, sf_dir):
    """has_any_index: 0-based index of the FIRST listed term the
    source has (whole-term, case-insensitive like `has`); -1 on miss
    or empty term list; substrings don't match."""
    r = kql(spark, sf_dir, """
      print i_hit = has_any_index("fatal Error in stage",
                                  dynamic(["warn", "error"])),
            i_first = has_any_index("warn then error",
                                    dynamic(["error", "warn"])),
            i_miss = has_any_index("all good", dynamic(["bad"])),
            i_sub = has_any_index("errors everywhere",
                                  dynamic(["error"])),
            i_empty = has_any_index("x", dynamic([]))
    """).collect()[0]
    assert (r["i_hit"], r["i_first"], r["i_miss"], r["i_sub"],
            r["i_empty"]) == (1, 0, -1, -1, -1)


def test_dynamic_to_json_recursive_sort(spark, sf_dir):
    """dynamic_to_json sorts keys at EVERY nesting level and emits
    compact separators — Kusto's canonical form."""
    r = kql(spark, sf_dir, """
      print s = dynamic_to_json(todynamic(
        '{"z": {"b": 1, "a": [ {"y": 1, "x": 2} ]}, "a": 9}'))
    """).collect()[0]
    assert r["s"] == '{"a":9,"z":{"a":[{"x":2,"y":1}],"b":1}}'


def test_format_ipv4_and_netmask_suffix(spark, sf_dir):
    """format_ipv4 renders numeric and dotted inputs masked to the
    argument prefix (else the input's own /suffix, else /32);
    format_ipv4_mask appends the prefix; ipv4_netmask_suffix returns
    the suffix (32 default) and null on invalid or non-dotted input."""
    r = kql(spark, sf_dir, """
      print a = format_ipv4("192.168.1.77"),
            b = format_ipv4("192.168.1.77", 24),
            c = format_ipv4("192.168.1.77/24"),
            d = format_ipv4(3232235777),
            e = format_ipv4("999.1.1.1"),
            f = format_ipv4_mask("192.168.1.77", 24),
            s1 = ipv4_netmask_suffix("10.0.0.0/8"),
            s2 = ipv4_netmask_suffix("10.0.0.1"),
            s3 = ipv4_netmask_suffix("10.0.0.1/40"),
            s4 = ipv4_netmask_suffix("abc")
    """).collect()[0]
    assert r["a"] == "192.168.1.77"
    assert r["b"] == "192.168.1.0"
    assert r["c"] == "192.168.1.0"
    assert r["d"] == "192.168.1.1"
    assert r["e"] is None
    assert r["f"] == "192.168.1.0/24"
    assert (r["s1"], r["s2"], r["s3"], r["s4"]) == (8, 32, None, None)


def test_ipv6_scalars_golden(spark, sf_dir):
    """IPv6 family edges the SQL oracle fixture can't model: a dotted
    quad embedded in IPv6 text (::ffff:1.2.3.4 — stdlib parses it, the
    oracle's ':'-splitting can't), zone indices (stdlib accepts
    fe80::1%eth0, Kusto rejects — the kernel must too), the min() of
    argument prefix vs both in-address suffixes in compare, and
    ipv6_compare total ordering around a mask boundary."""
    r = kql(spark, sf_dir, """
      print a = parse_ipv6("::ffff:1.2.3.4"),
            z = parse_ipv6("fe80::1%eth0"),
            b = parse_ipv6_mask("2001:db8::ffff", 129),
            c = ipv6_compare("2001:db8::1/60", "2001:db8::f:0", 64),
            d = ipv6_compare("::ffff:7f00:1", "127.0.0.1"),
            e = ipv6_compare("2001:db8::2", "2001:db8::1"),
            f = tostring(ipv6_is_match("fe80::1", "fe80:ffff::9", 16)),
            g = tostring(ipv6_is_in_range("1.2.3.4",
                                          "::ffff:102:0/112")),
            h = tostring(ipv6_is_in_any_range("9::9", "8::/16",
                                              "7::/16"))
    """).collect()[0]
    assert r["a"] == "0000:0000:0000:0000:0000:ffff:0102:0304"
    assert r["z"] is None
    assert r["b"] is None
    # /60 < 64: both mask to 2001:db8:: under the MIN prefix -> equal
    assert r["c"] == 0
    # ipv4 text lifts to the same mapped address -> equal at /128
    assert r["d"] == 0
    assert r["e"] == 1
    assert (r["f"], r["g"], r["h"]) == ("true", "true", "false")


def test_has_ipv4_adjacency_and_delimiters(spark, sf_dir):
    """The general scanning cases the RE2-shaped oracle fixture can't
    express: two IPs separated by a SINGLE delimiter (lookarounds
    don't consume it, both must be found), an IP at both string edges,
    and prefix matching that must not cross an octet boundary
    (has_ipv4_prefix('…12.3.…', '12.30') is false)."""
    r = kql(spark, sf_dir, """
      print a = tostring(has_any_ipv4('1.2.3.4 5.6.7.8', '5.6.7.8')),
            b = tostring(has_any_ipv4('1.2.3.4 5.6.7.8', '1.2.3.4')),
            c = tostring(has_ipv4('9.9.9.9')),
            d = tostring(has_ipv4_prefix('call 12.30.4.5 now', '12.3')),
            e = tostring(has_ipv4_prefix('call 12.3.4.5 now', '12.30')),
            f = tostring(has_ipv4('ip:256.1.1.1')),
            g = tostring(has_any_ipv4_prefix('from 12.3.4.5 x',
                                             '99.', '12.3.')),
            h = tostring(has_any_ipv4_prefix('from 12.3.4.5 x',
                                             '99.', '13.'))
    """).collect()[0]
    assert (r["a"], r["b"], r["c"]) == ("true", "true", "true")
    assert (r["d"], r["e"], r["f"]) == ("true", "false", "false")
    assert (r["g"], r["h"]) == ("true", "false")


def test_make_list_with_nulls_and_count_distinct(spark, sf_dir):
    """make_list_with_nulls keeps null elements (collect_list drops
    them — the struct-wrap trick); count_distinct is the exact sibling
    of the HLL dcount; count_distinctif filters rows first and never
    counts the filtered-out null branch."""
    rows = kql(spark, sf_dir, """
      datatable (g:string, v:long)
        ['a', 1, 'a', long(null), 'a', 2, 'b', 1, 'b', 1]
      | summarize n = count_distinct(v),
                  ni = count_distinctif(v, v < 2),
                  lst = make_list_with_nulls(v) by g
      | project g, n, ni, lst_s = tostring(lst)
      | order by g asc
    """).collect()
    got = [(r["g"], r["n"], r["ni"], r["lst_s"]) for r in rows]
    # r12: tostring over a native array renders JSON (Kusto), not
    # Spark's spaced display form
    assert got == [("a", 2, 1, "[1,null,2]"), ("b", 1, 1, "[1,1]")]


def test_series_magnitude_isascii_base64_fromarray(spark, sf_dir):
    """Three late scalars: series_magnitude (Euclidean norm),
    isascii, and base64_encode_fromarray — the inverse of
    base64_decode_toarray, accepting both native arrays and dynamic
    values (JSON-lift coercion), closing the byte-array codec
    round-trip."""
    r = kql(spark, sf_dir, """
      print m = series_magnitude(dynamic([3.0, 4.0])),
            z = series_magnitude(dynamic([])),
            a1 = tostring(isascii('hello!')),
            a2 = tostring(isascii('héllo')),
            b = base64_encode_fromarray(base64_decode_toarray('S3VzdG8=')),
            b2 = base64_encode_fromarray(dynamic([75,117,115,116,111])),
            rt = base64_decode_tostring(base64_encode_fromarray(
                   base64_decode_toarray(
                     base64_encode_tostring('round trip'))))
    """).collect()[0]
    assert r["m"] == 5.0 and r["z"] == 0.0
    assert (r["a1"], r["a2"]) == ("true", "false")
    assert r["b"] == "S3VzdG8=" and r["b2"] == "S3VzdG8="
    assert r["rt"] == "round trip"


def test_datetime_tz_conversions_and_parts(spark, sf_dir):
    """datetime_utc_to_local / datetime_local_to_utc ride the JVM's
    IANA tz rules: values on both sides of a US DST transition get
    different offsets, the conversion round-trips, and datetime_part's
    sub-second parts match the Kusto doc example (.7654321 -> ms 765,
    us 765432; ns carries trailing zeros at µs storage)."""
    r = kql(spark, sf_dir, """
      print pre = tostring(datetime_utc_to_local(
                     datetime(2017-11-05 04:30:00), 'America/New_York')),
            post = tostring(datetime_utc_to_local(
                     datetime(2017-11-05 07:30:00), 'America/New_York')),
            rt = tostring(datetime_local_to_utc(datetime_utc_to_local(
                     datetime(2024-06-01 12:00:00), 'Europe/Paris'),
                     'Europe/Paris'))
    """).collect()[0]
    assert r["pre"] == "2017-11-05 00:30:00"    # EDT, UTC-4
    assert r["post"] == "2017-11-05 02:30:00"   # EST, UTC-5
    assert r["rt"] == "2024-06-01 12:00:00"
    p = kql(spark, sf_dir, """
      datatable (d:datetime) [datetime(2017-10-30 01:02:03.765432)]
        | extend ms = datetime_part('millisecond', d),
                 us = datetime_part('microsecond', d),
                 ns = datetime_part('nanosecond', d),
                 w = datetime_part('week_of_year', d)
    """).collect()[0]
    assert (p["ms"], p["us"], p["ns"], p["w"]) == (765, 765432,
                                                   765432000, 44)


def test_bin_auto_properties_and_errors(spark, sf_dir):
    """bin_auto rides the real Kusto request properties: numeric size
    with the default 0 anchor, a timespan size requiring an explicit
    datetime anchor (and flooring below it), missing-property errors,
    and per-compile isolation (the set does not leak into the next
    query)."""
    rows = kql(spark, sf_dir, """
      set query_bin_auto_size = 25;
      range i from 1 to 100 step 1
        | summarize n = count() by b = bin_auto(i) | order by b asc
    """).collect()
    assert [(r["b"], r["n"]) for r in rows] == [
        (0, 24), (25, 25), (50, 25), (75, 25), (100, 1)]
    r = kql(spark, sf_dir, """
      set query_bin_auto_size = 6h;
      set query_bin_auto_minimum = datetime(2024-01-01 03:00:00);
      datatable (d:datetime) [datetime(2024-01-01 01:30:00)]
        | extend b = bin_auto(d)
    """).collect()[0]
    assert str(r["b"]) == "2023-12-31 21:00:00"   # floors BELOW anchor
    import pytest as _pt
    with _pt.raises(ValueError, match="query_bin_auto_size"):
        kql(spark, sf_dir,
            "range i from 1 to 1 step 1 | extend b = bin_auto(i)"
            ).collect()
    with _pt.raises(ValueError, match="query_bin_auto_minimum"):
        kql(spark, sf_dir, """
          set query_bin_auto_size = 1h;
          datatable (d:datetime) [datetime(2024-01-01)]
            | extend b = bin_auto(d)
        """).collect()


def test_has_ipv6_scanning_edges(spark, sf_dir):
    """has_ipv6 edges beyond the oracle fixture: alnum-glued candidate
    rejection (xfe80::1), an embedded dotted-quad IPv6 form, a
    bracketed host:port (the address inside survives — brackets
    delimit), a zone-suffixed address (the '%' delimits, the address
    part matches), and has_any_ipv6 matching an alternate notation of
    the same address."""
    r = kql(spark, sf_dir, """
      print a = tostring(has_ipv6('glued xfe80::1 no')),
            b = tostring(has_ipv6('x ::ffff:1.2.3.4 y')),
            c = tostring(has_ipv6('[2001:db8::ffff]:8080 ok')),
            d = tostring(has_ipv6('scoped fe80::1%eth0 ok')),
            e = tostring(has_any_ipv6('x 2001:DB8:0:0:0:0:0:1 y',
                                      '2001:db8::1'))
    """).collect()[0]
    assert r["a"] == "false"
    assert (r["b"], r["c"], r["d"], r["e"]) == ("true",) * 4


def test_geohash_golden_prefix_and_roundtrip(spark, sf_dir):
    """Geohash pins: the textbook ezs42 golden, the default accuracy
    (5), the prefix-nesting property (a coarser hash is a prefix of a
    finer one — what makes prefix groupBy a spatial bucketing key),
    decode-center containment inside the encoded cell, and null on
    invalid input (out-of-range point, junk hash text)."""
    r = kql(spark, sf_dir, """
      print g = geo_point_to_geohash(-5.6, 42.6, 5),
            gd = geo_point_to_geohash(-5.6, 42.6),
            g9 = geo_point_to_geohash(-5.6, 42.6, 9),
            bad = geo_point_to_geohash(-5.6, 92.0, 5),
            c = tostring(geo_geohash_to_central_point("u4pruyd")),
            junk = tostring(geo_geohash_to_central_point("hello a")),
            empty = tostring(geo_geohash_to_central_point(""))
    """).collect()[0]
    assert r["g"] == "ezs42" and r["gd"] == "ezs42"
    assert r["g9"].startswith("ezs42")
    assert r["bad"] is None
    assert r["junk"] is None and r["empty"] is None
    # u4pruyd is the RFC-circulated example near (10.407, 57.649):
    # the decoded center must round-trip to the same cell
    import json
    c = json.loads(r["c"])
    assert c["type"] == "Point"
    clon, clat = c["coordinates"]
    r2 = kql(spark, sf_dir, f"""
      print g = geo_point_to_geohash(todouble({clon!r}),
                                     todouble({clat!r}), 7)
    """).collect()[0]
    assert r2["g"] == "u4pruyd"
    assert abs(clon - 10.407) < 0.01 and abs(clat - 57.649) < 0.01


def test_indexof_regex_and_reverse(spark, sf_dir):
    """indexof_regex: 0-based first-match position, -1 on miss;
    reverse works on strings and typed arrays."""
    r = kql(spark, sf_dir, """
      print i1 = indexof_regex("abc123def", "[0-9]+"),
            i2 = indexof_regex("abcdef", "[0-9]+"),
            r1 = reverse("abc"),
            r2 = reverse(split("a,b,c", ","))
    """).collect()[0]
    assert (r["i1"], r["i2"], r["r1"]) == (3, -1, "cba")
    assert list(r["r2"]) == ["c", "b", "a"]


def test_parse_path_forms(spark, sf_dir):
    """parse_path across url / windows-drive+ADS / unix / relative
    forms: every bag field pinned."""
    rows = kql(spark, sf_dir, """
      datatable(id:long, p:string) [
        1, "https://host/data/raw/file.tar.gz",
        2, "C:\\\\logs\\\\app\\\\trace.etl:meta",
        3, "/var/log/syslog",
        4, "relative/dir/readme.md"
      ]
        | extend b = parse_path(p)
        | project id, scheme = tostring(b.Scheme),
                  rootp = tostring(b.RootPath),
                  dirp = tostring(b.DirectoryPath),
                  dirn = tostring(b.DirectoryName),
                  fn = tostring(b.Filename),
                  ext = tostring(b.Extension),
                  ads = tostring(b.AlternateDataStreamName)
    """).collect()
    got = {r["id"]: (r["scheme"], r["rootp"], r["dirp"], r["dirn"],
                     r["fn"], r["ext"], r["ads"]) for r in rows}
    assert got[1] == ("https", "", "host/data/raw", "raw",
                      "file.tar.gz", "gz", "")
    assert got[2] == ("", "C:", "C:\\logs\\app", "app",
                      "trace.etl", "etl", "meta")
    assert got[3] == ("", "/", "/var/log", "log", "syslog", "", "")
    assert got[4] == ("", "", "relative/dir", "dir",
                      "readme.md", "md", "")


def test_funnel_sequence_prev_next_and_window(spark, sf_dir):
    """funnel_sequence closed-form: u1 completes a->b inside the step
    window with prev=x and next=y; u2's a->b gap exceeds the window
    (no match); u3's sequence starts the stream (prev='') and ends it
    (next=''); u4 matches twice but counts ONCE per (prev, next)
    pair (dcount semantics)."""
    rows = kql(spark, sf_dir, """
      datatable(uid:long, t:datetime, s:string) [
        1, datetime(2024-01-01 00:00:00), "x",
        1, datetime(2024-01-01 00:10:00), "a",
        1, datetime(2024-01-01 00:20:00), "b",
        1, datetime(2024-01-01 00:30:00), "y",
        2, datetime(2024-01-02 00:00:00), "a",
        2, datetime(2024-01-02 02:00:00), "b",
        3, datetime(2024-01-03 00:00:00), "a",
        3, datetime(2024-01-03 00:05:00), "b",
        4, datetime(2024-01-04 00:00:00), "x",
        4, datetime(2024-01-04 00:01:00), "a",
        4, datetime(2024-01-04 00:02:00), "b",
        4, datetime(2024-01-04 00:03:00), "x",
        4, datetime(2024-01-04 00:04:00), "a",
        4, datetime(2024-01-04 00:05:00), "b",
        4, datetime(2024-01-04 00:06:00), "y"
      ]
        | evaluate funnel_sequence(uid, t, datetime(2024-01-01),
            datetime(2024-01-05), 1h, 1d, s, dynamic(["a", "b"]))
    """).collect()
    got = {(r["prev"], r["next"]): r["dcount"] for r in rows}
    # u1: (x, y); u3: ('', ''); u4: (x, x) and (x, y) — u4's second
    # match shares prev 'x' with its first but has next 'y', joining
    # u1 in that cell; u2 never matches (2h gap > 1h window)
    assert got == {("x", "y"): 2, ("", ""): 1, ("x", "x"): 1}


def test_python_plugin_modes(spark, sf_dir):
    """evaluate python(): typeof(*) passthrough, typeof(*, c:t)
    append, explicit-schema replace, kargs injection, and the
    error contract when the script yields no DataFrame."""
    # append mode + arithmetic
    rows = kql(spark, sf_dir, """
      range i from 1 to 4 step 1
        | evaluate python(typeof(*, sq:long),
            "result = df\\nresult['sq'] = result['i'] * result['i']\\n")
        | summarize s = sum(sq), n = count()
    """).collect()
    assert (rows[0]["s"], rows[0]["n"]) == (30, 4)
    # replace mode + kargs
    rows = kql(spark, sf_dir, """
      range i from 1 to 5 step 1
        | evaluate python(typeof(j:long),
            "result = pd.DataFrame({'j': df['i'] * kargs['m']})",
            dynamic({"m": 3}))
        | summarize s = sum(j)
    """).collect()
    assert rows[0]["s"] == 45
    # passthrough
    rows = kql(spark, sf_dir, """
      range i from 1 to 3 step 1
        | evaluate python(typeof(*), "result = df[df['i'] > 1]")
        | summarize n = count()
    """).collect()
    assert rows[0]["n"] == 2
    # script must assign a DataFrame
    import pytest as _pytest
    with _pytest.raises(Exception, match="result"):
        kql(spark, sf_dir, """
          range i from 1 to 3 step 1
            | evaluate python(typeof(*), "x = 1")
        """).collect()


@pytest.mark.parametrize("seed", [3, 11])
def test_percentilew_random_differential(spark, sf_dir, seed):
    """Property: percentilew equals the Python reference (sort by
    value, accumulate weights, first value whose running weight
    reaches P% of the total) on random groups with ties, null values
    and zero/null weights sprinkled in."""
    import random

    rnd = random.Random(seed)
    rows = []
    for _ in range(120):
        g = rnd.choice("abc")
        v = rnd.choice([None, float(rnd.randint(1, 9))])
        w = rnd.choice([None, 0, rnd.randint(1, 5)])
        rows.append((g, v, w))
    cells = ", ".join(
        f"'{g}', {'real(null)' if v is None else v}, "
        f"{'long(null)' if w is None else w}"
        for g, v, w in rows)
    got = {r["g"]: (r["p25"], r["p50"], r["p90"])
           for r in kql(spark, sf_dir, f"""
      datatable (g:string, v:real, w:long) [{cells}]
        | summarize p25 = percentilew(v, w, 25),
                    p50 = percentilew(v, w, 50),
                    p90 = percentilew(v, w, 90) by g
    """).collect()}

    def ref(g, p):
        pairs = sorted((v, w) for gg, v, w in rows
                       if gg == g and v is not None and w and w > 0)
        tot = sum(w for _, w in pairs)
        cum = 0
        for v, w in pairs:
            cum += w
            if cum >= (p / 100.0) * tot:
                return v
        return None
    want = {g: (ref(g, 25), ref(g, 50), ref(g, 90)) for g in "abc"}
    assert got == want


@pytest.mark.parametrize("seed", [7, 23])
def test_funnel_sequence_random_differential(spark, sf_dir, seed):
    """Property: funnel_sequence equals a Python reference (scan each
    id's time-sorted stream for in-window consecutive matches, collect
    (prev, next) per id, distinct-count ids per pair) on random event
    streams with unique timestamps per id."""
    import random
    from collections import defaultdict

    rnd = random.Random(seed)
    base = 1704067200  # 2024-01-01 UTC, seconds
    rows = []
    for uid in range(1, 9):
        ts = sorted(rnd.sample(range(0, 4000), 40))
        for t in ts:
            rows.append((uid, base + t * 60,
                         rnd.choice(["a", "b", "c", "d"])))
    cells = ", ".join(
        f"{u}, datetime({__import__('datetime').datetime.utcfromtimestamp(t).strftime('%Y-%m-%d %H:%M:%S')}), '{s}'"
        for u, t, s in rows)
    got = {(r["prev"], r["next"]): r["dcount"]
           for r in kql(spark, sf_dir, f"""
      datatable (uid:long, t:datetime, s:string) [{cells}]
        | evaluate funnel_sequence(uid, t, datetime(2024-01-01),
            datetime(2024-01-15), 2h, 1d, s, dynamic(["a", "b"]))
    """).collect()}

    per_pair = defaultdict(set)
    lo = base
    hi = base + 14 * 86400
    by_uid = defaultdict(list)
    for u, t, s in rows:
        if lo <= t <= hi:
            by_uid[u].append((t, s))
    for u, evs in by_uid.items():
        evs.sort()
        for i in range(len(evs) - 1):
            if (evs[i][1] == "a" and evs[i + 1][1] == "b"
                    and evs[i + 1][0] - evs[i][0] <= 7200):
                prev = evs[i - 1][1] if i > 0 else ""
                nxt = evs[i + 2][1] if i + 2 < len(evs) else ""
                per_pair[(prev, nxt)].add(u)
    want = {k: len(v) for k, v in per_pair.items()}
    assert got == want


@pytest.mark.parametrize("seed", [13])
def test_array_split_random_differential(spark, sf_dir, seed):
    """Property: array_split equals the Python reference (normalize
    negative indices, clamp to [0, n], sort, slice) on random arrays
    and random index lists, compared through dynamic_to_json text."""
    import json
    import random

    rnd = random.Random(seed)
    cases = []
    for i in range(12):
        arr = [rnd.randint(0, 9) for _ in range(rnd.randint(0, 6))]
        idx = [rnd.randint(-7, 7)
               for _ in range(rnd.randint(1, 3))]
        cases.append((i, arr, idx))
    cells = ", ".join(
        f"{i}, dynamic({json.dumps(arr)}), dynamic({json.dumps(idx)})"
        for i, arr, idx in cases)
    got = {r["i"]: r["s"] for r in kql(spark, sf_dir, f"""
      datatable (i:long, arr:dynamic, idx:dynamic) [{cells}]
        | project i, s = dynamic_to_json(array_split(arr, idx))
    """).collect()}

    def ref(arr, idx):
        n = len(arr)
        cuts = sorted(max(0, min(n, j + n if j < 0 else j))
                      for j in idx)
        bounds = [0] + cuts + [n]
        return json.dumps([arr[bounds[k]:bounds[k + 1]]
                           for k in range(len(bounds) - 1)],
                          separators=(",", ":"))
    for i, arr, idx in cases:
        assert got[i] == ref(arr, idx), (i, arr, idx)


def test_bag_unpack_output_prefix(spark, sf_dir):
    """bag_unpack's OutputColumnPrefix argument prefixes every
    unpacked column; the bare form is unchanged."""
    rows = kql(spark, sf_dir, """
      datatable (id:long, bj:string) [ 1, '{"a": 5, "b": "x"}' ]
        | extend b = todynamic(bj)
        | project-away bj
        | evaluate bag_unpack(b, 'u_')
    """).collect()
    assert rows[0]["u_a"] == 5 and rows[0]["u_b"] == "x"
    assert "a" not in rows[0].asDict() and "id" in rows[0].asDict()


def test_bag_unpack_collision_errors(spark, sf_dir):
    """bag_unpack raises on output/input column collisions (Kusto
    errors identically); the prefix argument resolves it."""
    import pytest as _pytest
    with _pytest.raises(ValueError, match="collide"):
        kql(spark, sf_dir, """
          datatable (a:long, bj:string) [ 1, '{"a": 5}' ]
            | extend b = todynamic(bj)
            | project-away bj
            | evaluate bag_unpack(b)
        """)
    rows = kql(spark, sf_dir, """
      datatable (a:long, bj:string) [ 1, '{"a": 5}' ]
        | extend b = todynamic(bj)
        | project-away bj
        | evaluate bag_unpack(b, 'p_')
    """).collect()
    assert rows[0]["a"] == 1 and rows[0]["p_a"] == 5


def test_time_make_and_unixtime_family(spark, sf_dir):
    """make_datetime/make_timespan and the unixtime_*_todatetime
    family land on exact microsecond timestamps; bitset_count_ones,
    toguid normalization, and base64_decode_toarray byte values."""
    r = kql(spark, sf_dir, """
      print dt = make_datetime(2024, 3, 5, 10, 30, 12.5),
            ts = make_timespan(1, 2, 3, 4.5),
            u1 = unixtime_seconds_todatetime(1704067200),
            u4 = unixtime_nanoseconds_todatetime(1704067200123456789),
            bc = bitset_count_ones(42),
            g1 = toguid("74BE27DE-1E4E-49D9-B579-FE0B331D3642"),
            g2 = toguid("{74be27de1e4e49d9b579fe0b331d3642}"),
            g3 = toguid("nope"),
            ba = tostring(base64_decode_toarray("aGk="))
    """).collect()[0]
    import datetime as _dt
    assert r["dt"] == _dt.datetime(2024, 3, 5, 10, 30, 12, 500000)
    assert r["ts"] == ((24 + 2) * 60 + 3) * 60_000_000 + 4_500_000
    assert r["u1"] == _dt.datetime(2024, 1, 1)
    assert r["u4"] == _dt.datetime(2024, 1, 1, 0, 0, 0, 123456)
    assert r["bc"] == 3
    assert r["g1"] == r["g2"] == "74be27de-1e4e-49d9-b579-fe0b331d3642"
    assert r["g3"] is None
    assert r["ba"] == "[104,105]"


def test_unicode_codepoints_roundtrip(spark, sf_dir):
    """unicode_codepoints_from_string / _to_string round-trip through
    the BMP and beyond (surrogate-pair emission above U+FFFF — Spark's
    char() truncates there); quote and backslash code points are
    escape-safe."""
    r = kql(spark, sf_dir, """
      print cps = tostring(unicode_codepoints_from_string("Abλ😀")),
            s1 = unicode_codepoints_to_string(65, 98, 955, 128512),
            s2 = unicode_codepoints_to_string(dynamic([34, 92, 72])),
            rv = tostring(array_reverse(dynamic([1, "a", 3.5])))
    """).collect()[0]
    assert r["cps"] == "[65,98,955,128512]"
    assert r["s1"] == "Abλ😀"
    assert r["s2"] == '"\\H'
    assert r["rv"] == '[3.5,"a",1]'


def test_sort_nulls_first_last(spark, sf_dir):
    """`sort by c asc|desc nulls first|last`: explicit null placement
    overrides (the bare defaults — asc=nulls first, desc=nulls last —
    match Kusto's and Spark's)."""
    q = """
      datatable (v:long) [ 2, 4, 1 ]
        | extend v = iff(v == 4, long(null), v)
        | sort by v {dir}
        | project v
    """
    def vals(d):
        return [r["v"] for r in kql(spark, sf_dir,
                                    q.format(dir=d)).collect()]
    assert vals("asc") == [None, 1, 2]
    assert vals("asc nulls last") == [1, 2, None]
    assert vals("desc") == [2, 1, None]
    assert vals("desc nulls first") == [None, 2, 1]


def test_series_fit_poly(spark, sf_dir):
    """series_fit_poly recovers exact polynomial coefficients
    (highest power first), rsquare 1 on noiseless data, explicit x
    support, and nulls when fewer than degree+1 points exist."""
    r = kql(spark, sf_dir, """
      print ys = pack_array(1.0, 0.0, 3.0, 10.0),
            xs = pack_array(0.0, 1.0, 2.0, 3.0)
        | extend (rsq, coef) = series_fit_poly(ys, xs, 2)
        | project rsq = round(rsq, 6),
                  c0 = round(todouble(coef[0]), 6),
                  c1 = round(todouble(coef[1]), 6),
                  c2 = round(todouble(coef[2]), 6)
    """).collect()[0]
    # y = 2x^2 - 3x + 1 at x = 0..3
    assert (r["rsq"], r["c0"], r["c1"], r["c2"]) == (1.0, 2.0, -3.0,
                                                     1.0)
    r2 = kql(spark, sf_dir, """
      print ys = pack_array(1.0, 2.0)
        | extend (rsq, coef) = series_fit_poly(ys, dynamic(null), 2)
        | project rsq
    """).collect()[0]
    assert r2["rsq"] is None


def test_bracket_indexing(spark, sf_dir):
    """Postfix indexer: 0-based array access, negative-from-end,
    out-of-range null, bag key access (including computed keys), and
    composition inside expressions."""
    r = kql(spark, sf_dir, """
      print a = dynamic([5, 6, 7]),
            b = todynamic('{"k": 9, "j": {"x": 1}}')
        | project i0 = tolong(a[0]), i2 = tolong(a[2]),
                  ineg = tolong(a[-1]), ioob = tolong(a[9]),
                  k = tolong(b["k"]),
                  kc = tolong(b[strcat("", "k")]),
                  nested = tolong(b["j"]["x"]),
                  expr = todouble(a[1]) * 10
    """).collect()[0]
    assert (r["i0"], r["i2"], r["ineg"], r["ioob"]) == (5, 7, 7, None)
    assert (r["k"], r["kc"], r["nested"], r["expr"]) == (9, 9, 1, 60.0)
    # typed arrays (make_list output) index the same way
    r2 = kql(spark, sf_dir, """
      range i from 1 to 4 step 1
        | summarize xs = make_list(i)
        | project second = tolong(xs[1])
    """).collect()[0]
    assert r2["second"] == 2


def test_hash_family(spark, sf_dir):
    """hash_sha256/sha1/md5 hex digests of the value's string form
    (known test vectors); hash_combine/hash_many produce one stable
    64-bit value over the argument tuple."""
    r = kql(spark, sf_dir, """
      print h256 = hash_sha256("abc"), h1 = hash_sha1("abc"),
            hm = hash_md5("abc"),
            hc = hash_combine(1, "x"), hc2 = hash_combine(1, "x"),
            hn = hash_many(1, "y")
    """).collect()[0]
    assert r["h256"] == ("ba7816bf8f01cfea414140de5dae2223"
                         "b00361a396177a9cb410ff61f20015ad")
    assert r["h1"] == "a9993e364706816aba3e25717850c26c9cd0d89d"
    assert r["hm"] == "900150983cd24fb0d6963f7d28e17f72"
    assert r["hc"] == r["hc2"] and r["hc"] != r["hn"]


def test_prev_next_offset_and_default(spark, sf_dir):
    """prev/next accept Kusto's full (x, offset, default) signature;
    the bare one-arg form still lags/leads by 1."""
    rows = kql(spark, sf_dir, """
      datatable (k:string, i:long) [ "a", 1, "a", 2, "a", 3 ]
        | partition by k ( sort by i asc
            | extend p1 = prev(i), p2 = prev(i, 2),
                     pd = prev(i, 2, -99), n2 = next(i, 2, -1) )
        | project i, p1, p2, pd, n2
    """).collect()
    got = {r["i"]: (r["p1"], r["p2"], r["pd"], r["n2"]) for r in rows}
    assert got[1] == (None, None, -99, 3)
    assert got[2] == (1, None, -99, -1)
    assert got[3] == (2, 1, 1, -1)


def test_row_cumsum_restart(spark, sf_dir):
    """row_cumsum(x, restart): the accumulation resets AT each row
    where restart is true (that row starts the new sum); composes
    with partition-by scoping."""
    rows = kql(spark, sf_dir, """
      datatable (i:long, x:long, r:bool) [
        1, 10, false, 2, 20, false, 3, 5, true, 4, 1, false ]
        | sort by i asc
        | extend cs = row_cumsum(x, r)
        | project i, cs
    """).collect()
    assert {r["i"]: r["cs"] for r in rows} == {1: 10, 2: 30, 3: 5,
                                               4: 6}
    rows = kql(spark, sf_dir, """
      datatable (k:string, i:long, x:long) [
        "a", 1, 1, "a", 2, 2, "b", 1, 7 ]
        | partition by k ( sort by i asc
            | extend cs = row_cumsum(x, i == 2) )
        | project k, i, cs
    """).collect()
    assert {(r["k"], r["i"]): r["cs"] for r in rows} == {
        ("a", 1): 1, ("a", 2): 2, ("b", 1): 7}


def test_parse_kind_regex_and_flags(spark, sf_dir):
    """parse kind=regex treats quoted fragments as raw regex;
    flags=i case-folds; kind=simple stays literal (special chars
    escaped); kind=relaxed works since r14 (own test above)."""
    rows = kql(spark, sf_dir, """
      datatable (s:string) [
        "ERROR code=17 at stage-4",
        "warn code=9 at stage-2",
        "nothing here" ]
        | parse kind=regex flags=i s
            with "(error|warn) code=" c:long " at stage-" st:long
        | project s, c, st
    """).collect()
    got = {r["s"]: (r["c"], r["st"]) for r in rows}
    assert got["ERROR code=17 at stage-4"] == (17, 4)
    assert got["warn code=9 at stage-2"] == (9, 2)
    assert got["nothing here"] == (None, None)
    # simple kind escapes regex metacharacters in literals
    r = kql(spark, sf_dir, """
      print s = "a.b=5" | parse kind=simple s with "a.b=" v:long
    """).collect()[0]
    assert r["v"] == 5
    r2 = kql(spark, sf_dir, """
      print s = "aXb=5" | parse s with "a.b=" v:long
    """).collect()[0]
    assert r2["v"] is None
    # relaxed is a supported kind since r14; an unknown kind is the
    # clean error now
    import pytest as _pytest
    with _pytest.raises(ValueError, match="parse kind"):
        kql(spark, sf_dir,
            'print s = "x" | parse kind=bogus s with "x" v:long')


def test_array_index_of_extended(spark, sf_dir):
    """array_index_of full signature: start offset (negative counts
    from the end), bounded length, 1-based occurrence; indexes stay
    relative to the ORIGINAL array; numeric and string matching."""
    r = kql(spark, sf_dir, """
      print a = dynamic([3, 7, 3, 9, 3]),
            s = dynamic(["x", "y", "x"])
        | project p0 = array_index_of(a, 3),
                  p1 = array_index_of(a, 3, 1),
                  p2 = array_index_of(a, 3, 0, -1, 2),
                  p3 = array_index_of(a, 3, 0, 2, 2),
                  p4 = array_index_of(a, 3, -2),
                  miss = array_index_of(a, 42),
                  ps = array_index_of(s, "y"),
                  empty = array_index_of(dynamic([]), 1)
    """).collect()[0]
    assert (r["p0"], r["p1"], r["p2"], r["p3"], r["p4"],
            r["miss"], r["ps"], r["empty"]) == (0, 2, 2, -1, 4, -1,
                                                1, -1)


def test_series_iir_identities(spark, sf_dir):
    """series_iir textbook identities: b=[1], a=[1] is the identity
    filter; b=[1], a=[1,-1] is the running sum; a[0] scales."""
    r = kql(spark, sf_dir, """
      print x = pack_array(1.0, 2.0, 3.0, 4.0)
        | project ident = tostring(series_iir(x, dynamic([1]),
                                              dynamic([1]))),
                  cumsum = tostring(series_iir(x, dynamic([1]),
                                               dynamic([1, -1]))),
                  scaled = tostring(series_iir(x, dynamic([2]),
                                               dynamic([4])))
    """).collect()[0]
    # integral doubles render without the trailing .0 through the
    # variant JSON round-trip
    assert r["ident"] == "[1,2,3,4]"
    assert r["cumsum"] == "[1,3,6,10]"
    assert r["scaled"] == "[0.5,1,1.5,2]"


def test_codec_scalars_golden_and_roundtrip(spark, sf_dir):
    """Kusto codec scalars (zlib/gzip base64, punycode, IDNA domain):
    golden bytes for fixed inputs (gzip pins mtime=0 so the base64 is
    deterministic across runs/executors) plus encode->decode identity
    on a unicode string. Naming follows the Kusto convention:
    X_from_string ENCODES (produces X from a string), X_to_string
    DECODES."""
    r = kql(spark, sf_dir, """
      print s = 'hello', u = 'Hello Wörld — test'
        | project zc = zlib_compress_to_base64_string(s),
                  gc = gzip_compress_to_base64_string(s),
                  zrt = zlib_decompress_from_base64_string(
                          zlib_compress_to_base64_string(u)),
                  grt = gzip_decompress_from_base64_string(
                          gzip_compress_to_base64_string(u)),
                  pe = punycode_from_string('bücher'),
                  prt = punycode_to_string(punycode_from_string(u)),
                  de = punycode_domain_from_string('bücher.example'),
                  drt = punycode_domain_to_string(
                          punycode_domain_from_string('bücher.example'))
    """).collect()[0]
    assert r["zc"] == "eJzLSM3JyQcABiwCFQ=="
    assert r["gc"] == "H4sIAAAAAAACA8tIzcnJBwCGphA2BQAAAA=="
    assert r["zrt"] == "Hello Wörld — test"
    assert r["grt"] == "Hello Wörld — test"
    assert r["pe"] == "bcher-kva"
    assert r["prt"] == "Hello Wörld — test"
    assert r["de"] == "xn--bcher-kva.example"
    assert r["drt"] == "bücher.example"


def test_codec_scalars_invalid_input_yields_empty_string(spark, sf_dir):
    """Per the Kusto docs, the decoders return an EMPTY string (not
    null, not an error) on invalid input; null stays null."""
    r = kql(spark, sf_dir, """
      print x = 'not!valid@base64'
        | project zd = zlib_decompress_from_base64_string(x),
                  gd = gzip_decompress_from_base64_string('aGVsbG8='),
                  pd = punycode_to_string('ü-nonascii'),
                  nn = zlib_decompress_from_base64_string(
                         iff(x == 'never', x, ''))
    """).collect()[0]
    assert r["zd"] == ""     # bad base64
    assert r["gd"] == ""     # valid base64, not a gzip stream
    assert r["pd"] == ""     # punycode input must be ASCII
    assert r["nn"] == ""     # empty in -> decode of b'' fails -> empty


def test_tdigest_merge_equals_direct_sketch(spark, sf_dir):
    """The re-aggregation identity the grid sketch owes to
    deterministic buckets + integer counts: merging per-shard sketches
    yields the BIT-IDENTICAL sketch a direct build over all rows
    gives — not an approximation of it (centroid t-digests only
    approximate this; see kql._tdigest for the deviation rationale)."""
    merged = kql(spark, sf_dir, """
      lineitem | extend g = l_returnflag,
                        sub = tolong(l_orderkey) % 7
        | evaluate tdigest(l_extendedprice, 10.0, g, sub)
        | evaluate tdigest_merge(tdigest, g)
    """).collect()
    direct = kql(spark, sf_dir, """
      lineitem | extend g = l_returnflag
        | evaluate tdigest(l_extendedprice, 10.0, g)
    """).collect()
    m = {r["g"]: r["tdigest"] for r in merged}
    d = {r["g"]: r["tdigest"] for r in direct}
    assert set(m) == set(d) and len(m) == 3
    for g in m:
        assert m[g]["scale"] == d[g]["scale"] == 10.0
        assert m[g]["bs"] == d[g]["bs"]


def test_tdigest_percentile_equals_exact_at_resolving_scale(spark,
                                                            sf_dir):
    """At a scale finer than the data's resolution (prices are
    2-decimal; scale 0.01 maps every distinct value to its own
    bucket), percentile_tdigest's crossing equals the exact weighted
    crossing rule — the estimate degrades only with the grid, same
    contract as percentilew_approx."""
    got = {r["g"]: r["p50"] for r in kql(spark, sf_dir, """
      lineitem | extend g = l_returnflag
        | evaluate tdigest(l_extendedprice, 0.01, g)
        | project g, p50 = percentile_tdigest(tdigest, 50)
    """).collect()}
    import math
    from azure_kusto_parquet_conv_spark.sources.parquet import (
        load_table)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice").toPandas()
    for g, sub in li.groupby("l_returnflag"):
        vals = sorted(sub["l_extendedprice"])
        n = len(vals)
        # smallest value whose rank reaches 50% of the total
        exact = vals[math.ceil(0.5 * n) - 1]
        assert abs(got[g] - exact) <= 0.01 + 1e-9, (g, got[g], exact)


def test_tdigest_scalar_edges(spark, sf_dir):
    """P=0 crosses at the first bucket, P=100 at the last;
    percentrank/rank below the smallest bucket are 0."""
    r = kql(spark, sf_dir, """
      datatable (x: real) [1.0, 2.0, 2.0, 9.0]
        | evaluate tdigest(x, 1.0)
        | project p0 = percentile_tdigest(tdigest, 0),
                  p100 = percentile_tdigest(tdigest, 100),
                  lo = rank_tdigest(tdigest, 0.0),
                  mid = rank_tdigest(tdigest, 2.0),
                  prmid = percentrank_tdigest(tdigest, 2.0)
    """).collect()[0]
    assert r["p0"] == 1.0
    assert r["p100"] == 9.0
    assert r["lo"] == 0
    assert r["mid"] == 3
    assert r["prmid"] == 75.0


def test_math_special_goldens(spark, sf_dir):
    """Special-function kernels vs closed forms: gamma(n) = (n-1)!,
    gamma(1/2) = sqrt(pi), beta a=1 closed form, beta_inv inverts
    beta_cdf, erf/erfc complements, welch_test reproduces the
    textbook two-sample case; domain errors are null."""
    import math
    r = kql(spark, sf_dir, """
      print x = 1
        | project g5 = gamma(5.0), gh = gamma(0.5),
                  lg = loggamma(10.0), e1 = erf(1.0), ec = erfc(1.0),
                  bc = beta_cdf(0.3, 1.0, 3.0),
                  bp = beta_pdf(0.5, 2.0, 2.0),
                  bi = beta_inv(0.657, 1.0, 3.0),
                  wt = welch_test(20.6, 0.48, 20, 19.8, 1.07, 25),
                  bad = gamma(-2.0), badb = beta_cdf(0.5, -1.0, 2.0)
    """).collect()[0]
    assert r["g5"] == 24.0
    assert r["gh"] == math.sqrt(math.pi)
    assert r["lg"] == math.lgamma(10.0)
    assert r["e1"] == math.erf(1.0)
    assert r["ec"] == math.erfc(1.0)
    assert abs(r["bc"] - (1 - 0.7 ** 3)) < 1e-12
    assert abs(r["bp"] - 1.5) < 1e-12
    assert abs(r["bi"] - 0.3) < 1e-12
    # Welch 1947-style example: t ~ 3.095, dof ~ 41.8, p ~ 0.0035
    assert abs(r["wt"] - 0.0035) < 2e-4
    assert r["bad"] is None and r["badb"] is None


def test_math_special_plateau_margin():
    """The q_kql_math_special oracle rounds loggamma/beta_cdf to six
    decimals via FLOOR(v*1e6 + 0.5); the two engines' independent
    kernels agree to ~1 ulp (measured max drift over the whole input
    domain: 1.07e-8 grid units, DuckDB lgamma vs libm), so the hash is
    safe iff no input's value sits near a x.5 grid boundary. The input
    domains are the FINITE modulo classes (sf-independent): prove
    every value keeps >= 1e-4 grid units of margin — 10^4 x the
    measured drift (the tightest value, lgamma(15.7), sits 3.47e-4
    from its boundary and is bit-identical across engines anyway)."""
    import math
    worst = 1.0
    for k in range(1, 181):
        v = math.lgamma(k / 10.0) * 1e6
        worst = min(worst, abs(v - math.floor(v) - 0.5))
    for k in range(0, 97):
        u = k / 100.0
        v = (1.0 - (1.0 - u) ** 3) * 1e6
        worst = min(worst, abs(v - math.floor(v) - 0.5))
    assert worst >= 1e-4, worst


def test_series_trig_and_comparison(spark, sf_dir):
    """r11 series widening: elementwise trig (sin/cos/tan/asin/acos/
    atan) and the pairwise comparison family returning bool arrays."""
    import math
    r = kql(spark, sf_dir, """
      print a = dynamic([0.0, 1.0]), b = dynamic([1.0, 1.0])
        | extend sn = series_sin(a), cs = series_cos(a),
                 tn = series_tan(a), an = series_atan(a),
                 asn = series_asin(b), acs = series_acos(b),
                 eq = series_equals(a, b),
                 ne = series_not_equals(a, b),
                 gt = series_greater(a, b),
                 ge = series_greater_equals(a, b),
                 lt = series_less(a, b),
                 le = series_less_equals(a, b)
    """).collect()[0]
    assert r["sn"] == [0.0, math.sin(1.0)]
    assert r["cs"] == [1.0, math.cos(1.0)]
    assert r["tn"] == [0.0, math.tan(1.0)]
    assert r["an"] == [0.0, math.atan(1.0)]
    assert r["asn"] == [math.asin(1.0)] * 2
    assert r["acs"] == [0.0, 0.0]
    assert r["eq"] == [False, True]
    assert r["ne"] == [True, False]
    assert r["gt"] == [False, False]
    assert r["ge"] == [False, True]
    assert r["lt"] == [True, False]
    assert r["le"] == [True, True]


def test_make_string_and_replace_strings(spark, sf_dir):
    """make_string is the unicode_codepoints_to_string alias;
    replace_strings folds sequential literal replacements (each step
    sees the previous output) and nulls on mismatched array lengths."""
    r = kql(spark, sf_dir, """
      print s = make_string(dynamic([75, 81, 76])),
            r1 = replace_strings('A quick fox',
                   dynamic(["quick", "fox"]),
                   dynamic(["slow", "dog"])),
            r2 = replace_strings('aaa', dynamic(["aa", "b"]),
                   dynamic(["b", "c"])),
            r3 = replace_strings('x', dynamic(["a", "b"]),
                   dynamic(["y"]))
    """).collect()[0]
    assert r["s"] == "KQL"
    assert r["r1"] == "A slow dog"
    # sequential: 'aaa' -> 'ba' (first pair) -> 'ca' (second pair)
    assert r["r2"] == "ca"
    assert r["r3"] is None


def test_pack_all_and_pack_dictionary(spark, sf_dir):
    """pack_all() bags every current column (nulls kept); pack_all(true)
    drops null/empty values; pack_dictionary aliases pack."""
    import json
    src = """
      datatable (k:string, v:long, e:string) [
        'a', 10, 'x',
        'b', 20, ''
      ]
      | extend n = long(null)
    """
    # NB: each bag in its own query — extend assignments compile
    # sequentially, so a second pack_all in the same pipeline would
    # (correctly) capture the first's output column
    full = {r["k"]: json.loads(r["full"]) for r in kql(
        spark, sf_dir,
        src + "| extend full = tostring(pack_all())").collect()}
    slim = {r["k"]: json.loads(r["slim"]) for r in kql(
        spark, sf_dir,
        src + "| extend slim = tostring(pack_all(true))").collect()}
    pd_ = {r["k"]: json.loads(r["pd"]) for r in kql(
        spark, sf_dir, src + "| extend pd = tostring("
        "pack_dictionary('key', k, 'val', v))").collect()}
    assert full["a"] == {"k": "a", "v": 10, "e": "x", "n": None}
    assert slim["a"] == {"k": "a", "v": 10, "e": "x"}
    assert slim["b"] == {"k": "b", "v": 20}  # '' and null dropped
    assert full["b"]["n"] is None
    assert pd_["a"] == {"key": "a", "val": 10}
    with pytest.raises(ValueError, match="pack_all"):
        kql(spark, sf_dir,
            "datatable (x:long) [1] | extend b = pack_all(x)")


def test_parse_command_line(spark, sf_dir):
    """parse_command_line: windows CommandLineToArgvW quoting rules
    (backslash-quote pairs, "" literal quote) and the posix extension;
    blank input -> null; parser type must be a literal."""
    r = kql(spark, sf_dir, r"""
      print w1 = tostring(parse_command_line(
                   'prog.exe "a b" c', 'windows')),
            w2 = tostring(parse_command_line(
                   'x.exe \\"lit\\" tail', 'windows')),
            w3 = tostring(parse_command_line(
                   'p "em\\"\\"bed"', 'windows')),
            p1 = tostring(parse_command_line(
                   "sh -c 'a b'", 'posix')),
            nul = parse_command_line('   ', 'windows')
    """).collect()[0]
    import json
    assert json.loads(r["w1"]) == ["prog.exe", "a b", "c"]
    assert json.loads(r["w2"]) == ["x.exe", '"lit"', "tail"]
    assert json.loads(r["w3"]) == ["p", 'em""bed']
    assert json.loads(r["p1"]) == ["sh", "-c", "a b"]
    assert r["nul"] is None
    with pytest.raises(ValueError, match="parser_type"):
        kql(spark, sf_dir,
            "print x = parse_command_line('a', 'bogus')")


def test_ipv4_compare_and_is_match(spark, sf_dir):
    """ipv4_compare/-is_match: effective prefix = min of both /suffixes
    and the optional prefix arg; invalid input -> null."""
    r = kql(spark, sf_dir, """
      print c0 = ipv4_compare('192.168.1.1', '192.168.1.1'),
            c1 = ipv4_compare('10.0.0.2', '10.0.0.1'),
            cm = ipv4_compare('192.168.1.1/24', '192.168.1.255'),
            ca = ipv4_compare('192.168.1.1', '192.168.2.1', 16),
            cx = ipv4_compare('bogus', '10.0.0.1'),
            m1 = ipv4_is_match('192.168.1.1', '192.168.1.255', 24),
            m2 = ipv4_is_match('10.1.0.0', '10.2.0.0'),
            m3 = ipv4_is_match('127.0.0.1/8', '127.255.255.255')
    """).collect()[0]
    assert r["c0"] == 0 and r["c1"] == 1
    assert r["cm"] == 0 and r["ca"] == 0
    assert r["cx"] is None
    assert r["m1"] is True and r["m2"] is False and r["m3"] is True


def test_geo_measures(spark, sf_dir):
    """geo_line_length / geo_polygon_area / geo_polygon_centroid /
    geo_distance_point_to_line — documented sphere/local-planar
    approximations, closed-form pins on equator-adjacent shapes where
    the formulas are analytic."""
    import math
    r = kql(spark, sf_dir, """
      print ll = geo_line_length(dynamic({"type":"LineString",
              "coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]})),
            ar = geo_polygon_area(dynamic({"type":"Polygon",
              "coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],
                              [0.0,1.0],[0.0,0.0]]]})),
            ah = geo_polygon_area(dynamic({"type":"Polygon",
              "coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],
                              [0.0,1.0],[0.0,0.0]],
                             [[0.2,0.2],[0.4,0.2],[0.4,0.4],
                              [0.2,0.4],[0.2,0.2]]]})),
            ct = tostring(geo_polygon_centroid(dynamic({
              "type":"Polygon",
              "coordinates":[[[0.0,0.0],[2.0,0.0],[2.0,2.0],
                              [0.0,2.0],[0.0,0.0]]]}))),
            dp = geo_distance_point_to_line(0.5, 0.001,
              dynamic({"type":"LineString",
                       "coordinates":[[0.0,0.0],[1.0,0.0]]})),
            bad = geo_line_length(dynamic({"type":"Point",
              "coordinates":[0.0,0.0]}))
    """).collect()[0]
    R = 6371009.0
    deg = math.pi / 180 * R
    # two unit-degree segments: one along the equator, one along a
    # meridian at lon=1 (both exactly R * 1 degree on the sphere)
    assert abs(r["ll"] - 2 * deg) < 1.0
    # spherical shoelace of the 1x1-degree equator square
    exact = R * R * math.radians(1.0) * (
        math.sin(math.radians(1.0)) - math.sin(0.0))
    assert abs(r["ar"] - exact) / exact < 1e-9
    assert r["ah"] < r["ar"]  # the hole subtracts
    import json
    c = json.loads(r["ct"])
    assert c["type"] == "Point"
    assert abs(c["coordinates"][0] - 1.0) < 1e-9
    assert abs(c["coordinates"][1] - 1.0) < 1e-9
    # point 0.001 deg north of the equator line: distance ~ 0.001 deg
    assert abs(r["dp"] - 0.001 * deg) < 0.5
    assert r["bad"] is None


def test_geo_measures_plateau_margin(spark, sf_dir):
    """q_kql_geo_measures hash-gates FLOOR(x + 0.5) of transcendental
    measures, which is only engine-portable while every value's
    distance to a rounding boundary dwarfs cross-libm sin/cos drift
    (<= a few ulps, ~1e-13 relative). Assert the margin on the actual
    fixture at the replica scale factors: min distance must exceed
    1e-4 grid units — >= 10^3 above the worst drift bound for these
    magnitudes (the r10 transcendental-oracle plateau pattern)."""
    from azure_kusto_parquet_conv_spark.kql import kql
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = kql(spark, sf, """
          lineitem
            | where l_orderkey % 201 == 0
            | extend lon1 = todouble(l_orderkey % 120) / todouble(2)
                            - todouble(30),
                     lat1 = todouble(l_partkey % 100) / todouble(2)
                            - todouble(25),
                     dx = todouble(l_suppkey % 10 + 1) / todouble(4),
                     dy = todouble(tolong(l_linenumber) % 7 + 1)
                          / todouble(8)
            | extend line = pack('type', 'LineString', 'coordinates',
                       pack_array(pack_array(lon1, lat1),
                                  pack_array(lon1 + dx, lat1 + dy))),
                     poly = pack('type', 'Polygon', 'coordinates',
                       pack_array(pack_array(
                         pack_array(lon1, lat1),
                         pack_array(lon1 + dx, lat1),
                         pack_array(lon1 + dx, lat1 + dy),
                         pack_array(lon1, lat1 + dy),
                         pack_array(lon1, lat1))))
            | project raw_len = geo_line_length(line) * todouble(10)
                                + todouble(0.5),
                      raw_area = geo_polygon_area(poly)
                                 / todouble(1000) + todouble(0.5)
        """).collect()
        assert rows, sf
        for col in ("raw_len", "raw_area"):
            dists = [abs(r[col] - round(r[col])) for r in rows]
            # distance to the FLOOR(x) flip point (the integer grid,
            # since the +0.5 is already applied)
            assert min(dists) > 1e-4, (sf, col, min(dists))


def test_union_isfuzzy(spark, sf_dir):
    """union isfuzzy=true drops operands whose table doesn't resolve
    (Kusto's multi-source tolerance); without the flag the same query
    errors, and all-unresolvable stays a loud failure."""
    got = kql(spark, sf_dir, """
      region
        | union isfuzzy=true withsource=src no_such_table, nation
        | summarize n = count() by src
        | sort by src asc
    """).collect()
    srcs = {r["src"]: r["n"] for r in got}
    assert srcs == {"$input": 5, "nation": 25}
    with pytest.raises(Exception):
        kql(spark, sf_dir,
            "region | union no_such_table").collect()
    with pytest.raises(ValueError, match="resolved no operand"):
        kql(spark, sf_dir,
            "region | union isfuzzy=true no_such_table")


def test_geo_s2cell_roundtrip_and_doc_example(spark, sf_dir):
    """geo_point_to_s2cell / geo_s2cell_to_central_point: the Kusto doc
    example (Miami at level 8 -> '88d9b'), the mutual-consistency
    property (re-encoding a cell's central point returns the SAME
    token at every level — the pin that validates the Hilbert tables
    and the center delta rule against each other), parent containment
    via id arithmetic, and the null contract for invalid input."""
    r = kql(spark, sf_dir, """
      print t8 = geo_point_to_s2cell(-80.195829, 25.802215, 8),
            tdflt = geo_point_to_s2cell(-80.195829, 25.802215),
            bad_lat = geo_point_to_s2cell(0.0, 91.0, 8),
            bad_lvl = geo_point_to_s2cell(0.0, 0.0, 31),
            bad_tok = geo_s2cell_to_central_point('zzz')
    """).collect()[0]
    assert r["t8"] == "88d9b"
    assert r["tdflt"] is not None and r["tdflt"] != r["t8"]
    assert r["bad_lat"] is None and r["bad_lvl"] is None
    assert r["bad_tok"] is None
    # roundtrip + parent containment over a seeded grid of points
    rows = kql(spark, sf_dir, """
      range i from 0 to 59 step 1
        | extend lon = todouble(i % 12) * todouble(27) - todouble(150),
                 lat = todouble(i % 10) * todouble(16) - todouble(72),
                 lev = toint(2 + i % 13)
        | extend tok = geo_point_to_s2cell(lon, lat, lev),
                 par = geo_point_to_s2cell(lon, lat, lev - 1)
        | extend c = geo_s2cell_to_central_point(tok)
        | extend tok2 = geo_point_to_s2cell(
                     todouble(c.coordinates[0]),
                     todouble(c.coordinates[1]), lev)
        | project i, tok, tok2, par, lev
    """).collect()
    assert len(rows) == 60
    for r in rows:
        assert r["tok"] == r["tok2"], (r["i"], r["tok"], r["tok2"])
        cid = int(r["tok"].ljust(16, "0"), 16)
        lsb = cid & -cid
        parent = (cid & ~((lsb << 2) - 1)) | (lsb << 2)
        assert format(parent, "016x").rstrip("0") == r["par"], r["i"]


def test_geo_polygon_area_short_hole_nulls(spark, sf_dir):
    """A malformed hole ring (< 4 points) must yield null, not an
    ANSI INVALID_ARRAY_INDEX from the descending sequence(1, 0)."""
    r = kql(spark, sf_dir, """
      print a = geo_polygon_area(dynamic({"type":"Polygon",
        "coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],
                        [0.0,1.0],[0.0,0.0]],
                       [[0.5,0.5]]]}))
    """).collect()[0]
    assert r["a"] is None


def test_startof_endof_offsets(spark, sf_dir):
    """The optional Kusto offset argument on the startof*/endof*
    families: the start/end of the period `offset` periods away."""
    r = kql(spark, sf_dir, """
      print d = datetime(2017-01-01 10:10:17)
        | project sd = startofday(d, -1), ed = endofday(d, 1),
                  sw = startofweek(d, 1), sm = startofmonth(d, 1),
                  em = endofmonth(d, -1), sy = startofyear(d, -1),
                  ey = endofyear(d, 1), sq = startofquarter(d, 1),
                  eq = endofquarter(d, -1)
    """).collect()[0]
    import datetime as dt
    us = dt.timedelta(microseconds=1)
    assert r["sd"] == dt.datetime(2016, 12, 31)
    assert r["ed"] == dt.datetime(2017, 1, 3) - us
    # 2017-01-01 is a Sunday: week starts that day; +1 week
    assert r["sw"] == dt.datetime(2017, 1, 8)
    assert r["sm"] == dt.datetime(2017, 2, 1)
    assert r["em"] == dt.datetime(2017, 1, 1) - us
    assert r["sy"] == dt.datetime(2016, 1, 1)
    assert r["ey"] == dt.datetime(2019, 1, 1) - us
    assert r["sq"] == dt.datetime(2017, 4, 1)
    assert r["eq"] == dt.datetime(2017, 1, 1) - us


def test_array_sort_parallel_cosort(spark, sf_dir):
    """array_sort_asc/desc with multiple arrays: the first array's
    order permutes the others (Kusto's parallel co-sort, dynamic
    array-of-arrays out); mismatched lengths null that array; an
    empty first array passes empties through."""
    import json
    r = kql(spark, sf_dir, """
      print s = tostring(array_sort_asc(dynamic([3.0, 1.0, 2.0]),
                                        dynamic(["c", "a", "b"]))),
            d = tostring(array_sort_desc(dynamic([1.0, 3.0, 2.0]),
                                         dynamic(["x", "z", "y"]))),
            m = tostring(array_sort_asc(dynamic([2.0, 1.0]),
                                        dynamic(["only"])))
    """).collect()[0]
    assert json.loads(r["s"]) == [[1.0, 2.0, 3.0], ["a", "b", "c"]]
    assert json.loads(r["d"]) == [[3.0, 2.0, 1.0], ["z", "y", "x"]]
    assert json.loads(r["m"]) == [[1.0, 2.0], None]
    # single-array form unchanged (native array, not variant)
    one = kql(spark, sf_dir,
              "print a = array_sort_asc(dynamic([2.0, 1.0]))"
              ).collect()[0]
    assert one["a"] == [1.0, 2.0]


def test_ipv4_compare_random_differential(spark, sf_dir):
    """ipv4_compare / ipv4_is_match vs an independent stdlib-ipaddress
    reference over 300 seeded random cases (suffixes on either side,
    optional prefix argument, wrap-around octets)."""
    import random

    rnd = random.Random(20240816)
    cases = []
    for i in range(300):
        a = [rnd.randrange(256) for _ in range(4)]
        b = [rnd.randrange(256) for _ in range(4)] \
            if rnd.random() < 0.5 else list(a)
        if rnd.random() < 0.5:
            b[3] = (b[3] + rnd.randrange(3) - 1) % 256
        sa = rnd.choice([None, 8, 16, 24, 32])
        sb = rnd.choice([None, 8, 16, 24, 32])
        p = rnd.choice([None, 8, 12, 16, 24, 30, 32])
        astr = ".".join(map(str, a)) + (f"/{sa}" if sa else "")
        bstr = ".".join(map(str, b)) + (f"/{sb}" if sb else "")
        cases.append((i, astr, bstr, p, a, b, sa or 32, sb or 32))
    lines = ",\n".join(
        f"{i}, '{astr}', '{bstr}', {p if p is not None else 32}"
        for i, astr, bstr, p, *_ in cases)
    rows = kql(spark, sf_dir, f"""
      datatable (i:long, a:string, b:string, p:int) [ {lines} ]
        | project i, c = ipv4_compare(a, b, p),
                  m = ipv4_is_match(a, b, p)
    """).collect()
    got = {r["i"]: (r["c"], r["m"]) for r in rows}
    for i, astr, bstr, p, a, b, sa, sb in cases:
        na = ((a[0] * 256 + a[1]) * 256 + a[2]) * 256 + a[3]
        nb = ((b[0] * 256 + b[1]) * 256 + b[2]) * 256 + b[3]
        eff = min(sa, sb, p if p is not None else 32)
        ma, mb = na >> (32 - eff), nb >> (32 - eff)
        want_c = -1 if ma < mb else (1 if ma > mb else 0)
        assert got[i] == (want_c, ma == mb), (i, astr, bstr, p)


def test_geohash_polygon_and_neighbors(spark, sf_dir):
    """geo_geohash_to_polygon (the cell rectangle; the center must be
    its midpoint) and geo_geohash_neighbors (up-to-8 same-accuracy
    adjacent cells, verified against an independent Python
    quantize/deinterleave reference; longitude wraps, polar latitude
    neighbors drop)."""
    import json

    GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def decode_ints(gh):
        total = 5 * len(gh)
        lonv = latv = 0
        for t in range(total):
            g = GH32.index(gh[t // 5])
            bit = (g >> (4 - t % 5)) & 1
            if t % 2 == 0:
                lonv = lonv * 2 + bit
            else:
                latv = latv * 2 + bit
        return lonv, latv, (total + 1) // 2, total // 2

    def encode_ints(lonv, latv, length):
        total = 5 * length
        nlon = (total + 1) // 2
        nlat = total // 2
        bits = []
        li, ti = nlon - 1, nlat - 1
        for t in range(total):
            if t % 2 == 0:
                bits.append((lonv >> li) & 1)
                li -= 1
            else:
                bits.append((latv >> ti) & 1)
                ti -= 1
        return "".join(
            GH32[sum(b << (4 - u) for u, b in
                     enumerate(bits[5 * c:5 * c + 5]))]
            for c in range(length))

    def ref_neighbors(gh):
        lonv, latv, nlon, nlat = decode_ints(gh)
        out = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == dy == 0:
                    continue
                tq = latv + dy
                if not 0 <= tq < (1 << nlat):
                    continue
                out.append(encode_ints((lonv + dx) % (1 << nlon),
                                       tq, len(gh)))
        return sorted(out)

    cases = ["c23nb", "u", "9q8yy", "zzzzz", "000"]
    sel = ", ".join(
        f"n{i} = tostring(geo_geohash_neighbors('{c}'))"
        for i, c in enumerate(cases))
    r = kql(spark, sf_dir, f"""
      print {sel},
            pg = tostring(geo_geohash_to_polygon('c23nb')),
            ct = geo_geohash_to_central_point('c23nb'),
            bad = geo_geohash_neighbors('not a hash!')
    """).collect()[0]
    for i, c in enumerate(cases):
        assert json.loads(r[f"n{i}"]) == ref_neighbors(c), c
    poly = json.loads(r["pg"])
    assert poly["type"] == "Polygon"
    ring = poly["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[4]
    ctr = json.loads(str(r["ct"]))
    # the decoded center is the rectangle midpoint
    assert abs((ring[0][0] + ring[1][0]) / 2 - ctr["coordinates"][0]) \
        < 1e-12
    assert abs((ring[1][1] + ring[2][1]) / 2 - ctr["coordinates"][1]) \
        < 1e-12
    assert r["bad"] is None


def test_scalar_range_function(spark, sf_dir):
    """The scalar range(start, stop [, step]) dynamic-array form
    (distinct from the range SOURCE operator): stop inclusive, empty
    when the step points away, null on a zero step."""
    r = kql(spark, sf_dir, """
      print a = range(1, 5),
            b = range(0, 10, 5),
            c = range(5, 1, -2),
            e = range(1, 0),
            z = range(1, 5, 0)
    """).collect()[0]
    assert r["a"] == [1, 2, 3, 4, 5]
    assert r["b"] == [0, 5, 10]
    assert r["c"] == [5, 3, 1]
    assert r["e"] == []
    assert r["z"] is None
    # the range OPERATOR still works as a source
    n = kql(spark, sf_dir,
            "range x from 1 to 5 step 2 | count").collect()[0][0]
    assert n == 3


def test_consume_operator(spark, sf_dir):
    """`consume` evaluates the pipeline and returns an empty frame
    with the input schema (Kusto's diagnostic sink)."""
    df = kql(spark, sf_dir, "region | where r_regionkey >= 0 | consume")
    assert df.count() == 0
    assert set(df.columns) == {"r_regionkey", "r_name"}


# ---------------------------------------------- r11 late scalar batch 4

def test_hash_mod_and_xxhash64(spark, sf_dir):
    """hash(v [, mod]) / hash_xxhash64: the optional second argument
    is a MODULUS (result in [0, mod)), not a second hashed value;
    hash_xxhash64 is the explicit-name alias."""
    r = kql(spark, sf_dir, """
      print h = hash('abc'), hx = hash_xxhash64('abc'),
            hm = hash('abc', 100), hn = hash_xxhash64('abc', 7)
    """).collect()[0]
    assert r["h"] == r["hx"]
    assert 0 <= r["hm"] < 100 and r["hm"] == r["h"] % 100
    assert 0 <= r["hn"] < 7


def test_bag_pack_columns(spark, sf_dir):
    """bag_pack_columns(c1, c2, ...) keys the bag by the COLUMN
    NAMES; nulls are kept (pack_all's default convention)."""
    import json
    rows = kql(spark, sf_dir, """
      datatable(a:long, b:string) [1, 'x', 2, ''
      ] | extend bb = tostring(bag_pack_columns(a, b))
        | project a, bb | sort by a asc
    """).collect()
    assert json.loads(rows[0]["bb"]) == {"a": 1, "b": "x"}
    assert json.loads(rows[1]["bb"]) == {"a": 2, "b": ""}
    with pytest.raises(ValueError, match="column reference"):
        kql(spark, sf_dir,
            "print x = bag_pack_columns(1 + 2)").collect()


def test_series_product(spark, sf_dir):
    r = kql(spark, sf_dir, """
      range i from 1 to 4 step 1
      | summarize s = make_list(i)
      | extend p = series_product(s), t = series_sum(s)
    """).collect()[0]
    assert r["p"] == 24.0 and r["t"] == 10.0


def test_geo_azimuth(spark, sf_dir):
    """geo_azimuth: initial bearing in radians clockwise from north;
    closed-form on cardinal directions from the origin."""
    import math
    r = kql(spark, sf_dir, """
      print e = geo_azimuth(0.0, 0.0, 1.0, 0.0),
            n = geo_azimuth(0.0, 0.0, 0.0, 1.0),
            w = geo_azimuth(0.0, 0.0, -1.0, 0.0),
            s = geo_azimuth(0.0, 0.0, 0.0, -1.0),
            same = geo_azimuth(1.0, 2.0, 1.0, 2.0),
            bad = geo_azimuth(0.0, 91.0, 1.0, 0.0)
    """).collect()[0]
    assert abs(r["e"] - math.pi / 2) < 1e-12
    assert abs(r["n"]) < 1e-12
    assert abs(r["w"] - 3 * math.pi / 2) < 1e-12
    assert abs(r["s"] - math.pi) < 1e-12
    assert r["same"] is None and r["bad"] is None


def _hav_m(p, q):
    import math
    lon1, lat1 = map(math.radians, p)
    lon2, lat2 = map(math.radians, q)
    h = (math.sin((lat2 - lat1) / 2) ** 2
         + math.cos(lat1) * math.cos(lat2)
         * math.sin((lon2 - lon1) / 2) ** 2)
    return 2 * 6371009.0 * math.asin(min(1.0, math.sqrt(h)))


def test_geo_polygon_perimeter(spark, sf_dir):
    """perimeter = haversine edge sum over every ring (holes count),
    replicated edge-for-edge in Python."""
    r = kql(spark, sf_dir, """
      print p = geo_polygon_perimeter(dynamic({"type":"Polygon",
              "coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],
                              [0.0,1.0],[0.0,0.0]]]})),
            ph = geo_polygon_perimeter(dynamic({"type":"Polygon",
              "coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],
                              [0.0,1.0],[0.0,0.0]],
                             [[0.2,0.2],[0.4,0.2],[0.4,0.4],
                              [0.2,0.4],[0.2,0.2]]]})),
            bad = geo_polygon_perimeter(dynamic({"type":"Polygon",
              "coordinates":[[[0.0,0.0],[1.0,0.0],[0.0,0.0]]]}))
    """).collect()[0]
    sq = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
    hole = [(.2, .2), (.4, .2), (.4, .4), (.2, .4), (.2, .2)]
    outer = sum(_hav_m(sq[i], sq[i + 1]) for i in range(4))
    inner = sum(_hav_m(hole[i], hole[i + 1]) for i in range(4))
    assert abs(r["p"] - outer) < 1e-6
    assert abs(r["ph"] - (outer + inner)) < 1e-6
    assert r["bad"] is None


def test_geo_line_centroid(spark, sf_dir):
    """length-weighted centroid; degenerate zero-length line
    collapses to its first point."""
    import json
    r = kql(spark, sf_dir, """
      print c = tostring(geo_line_centroid(dynamic({
              "type":"LineString",
              "coordinates":[[0.0,0.0],[2.0,0.0]]}))),
            l = tostring(geo_line_centroid(dynamic({
              "type":"LineString",
              "coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]}))),
            z = tostring(geo_line_centroid(dynamic({
              "type":"LineString",
              "coordinates":[[3.0,4.0],[3.0,4.0]]}))),
            bad = geo_line_centroid(dynamic({"type":"Point",
              "coordinates":[0.0,0.0]}))
    """).collect()[0]
    c = json.loads(r["c"])["coordinates"]
    assert abs(c[0] - 1.0) < 1e-12 and abs(c[1]) < 1e-12
    w1 = _hav_m((0, 0), (1, 0))
    w2 = _hav_m((1, 0), (1, 1))
    want_x = (0.5 * w1 + 1.0 * w2) / (w1 + w2)
    want_y = (0.0 * w1 + 0.5 * w2) / (w1 + w2)
    lc = json.loads(r["l"])["coordinates"]
    assert abs(lc[0] - want_x) < 1e-12
    assert abs(lc[1] - want_y) < 1e-12
    assert json.loads(r["z"])["coordinates"] == [3.0, 4.0]
    assert r["bad"] is None


def test_geo_distance_point_to_polygon(spark, sf_dir):
    """0 inside (even-odd across rings — a point in a hole is
    OUTSIDE), min edge distance otherwise (local equirectangular,
    same frame as geo_distance_point_to_line)."""
    poly = ('dynamic({"type":"Polygon","coordinates":'
            '[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]],'
            '[[0.4,0.4],[0.6,0.4],[0.6,0.6],[0.4,0.6],[0.4,0.4]]]})')
    r = kql(spark, sf_dir, f"""
      print inside = geo_distance_point_to_polygon(0.2, 0.2, {poly}),
            inhole = geo_distance_point_to_polygon(0.5, 0.5, {poly}),
            east = geo_distance_point_to_polygon(1.5, 0.0, {poly}),
            bad = geo_distance_point_to_polygon(0.5, 99.0, {poly})
    """).collect()[0]
    import math
    assert r["inside"] == 0.0
    # center of the hole: 0.1 deg from the hole edge in the local
    # frame (x-scale cos(lat0) at lat0 = 0.5)
    deg = math.pi / 180 * 6371009.0
    assert abs(r["inhole"] - 0.1 * deg * math.cos(
        math.radians(0.5))) / r["inhole"] < 1e-4
    assert abs(r["east"] - 0.5 * deg) / r["east"] < 1e-9
    assert r["bad"] is None


def test_s2_family_kernels():
    """Pure-kernel properties for the S2 parent/children/neighbors/
    polygon extensions (no Spark): parent-of-child roundtrip,
    neighbor symmetry, cross-face wrap, polygon corners."""
    from azure_kusto_parquet_conv_spark.kql import (
        _s2_center_of,
        _s2_children_tokens,
        _s2_encode_token,
        _s2_neighbors_tokens,
        _s2_parent_token,
        _s2_parse,
        _s2_polygon_of,
    )
    tok = _s2_encode_token(-80.195829, 25.802215, 8)
    assert tok == "88d9b"
    kids = _s2_children_tokens(tok)
    assert len(kids) == 4 and len(set(kids)) == 4
    for k in kids:
        assert _s2_parent_token(k) == tok
        assert _s2_parse(k)[2] == 9
    # explicit-level parent: grandchild back to level 8
    assert _s2_parent_token(_s2_children_tokens(kids[0])[3], 8) == tok
    assert _s2_parent_token(tok, 9) is None  # finer than the cell
    nbrs = _s2_neighbors_tokens(tok)
    assert len(nbrs) == 4 and tok not in nbrs
    for n in nbrs:
        assert _s2_parse(n)[2] == 8
        assert tok in _s2_neighbors_tokens(n)  # symmetry
    # cross-face wrap: a face-corner-adjacent cell still finds 4
    # valid same-level neighbors
    corner = _s2_encode_token(0.1, 44.9, 6)
    cn = _s2_neighbors_tokens(corner)
    assert len(cn) == 4
    for n in cn:
        assert _s2_parse(n) is not None and _s2_parse(n)[2] == 6
    # polygon: 4 corners + closure, center inside the lon/lat box
    # away from face edges
    ring = _s2_polygon_of(tok)
    assert len(ring) == 5 and ring[0] == ring[-1]
    lon, lat = _s2_center_of(tok)
    lons = [p[0] for p in ring[:4]]
    lats = [p[1] for p in ring[:4]]
    assert min(lons) < lon < max(lons)
    assert min(lats) < lat < max(lats)
    assert _s2_parent_token("zz") is None
    assert _s2_children_tokens("zz") is None
    assert _s2_neighbors_tokens("zz") is None


def test_s2_family_spark_dispatch(spark, sf_dir):
    """The S2 family end-to-end through the compiler (UDF lifts +
    dynamic results)."""
    r = kql(spark, sf_dir, """
      print p = geo_s2cell_parent('88d9b'),
            p6 = geo_s2cell_parent('88d9b', 6),
            ch = tostring(geo_s2cell_children('88d9b')),
            nb = tostring(geo_s2cell_neighbors('88d9b')),
            pg = tostring(geo_s2cell_to_polygon('88d9b')),
            bad = geo_s2cell_parent('nothex')
    """).collect()[0]
    import json
    from azure_kusto_parquet_conv_spark.kql import (
        _s2_children_tokens,
        _s2_neighbors_tokens,
        _s2_parent_token,
    )
    assert r["p"] == _s2_parent_token("88d9b")
    assert r["p6"] == _s2_parent_token("88d9b", 6)
    assert json.loads(r["ch"]) == _s2_children_tokens("88d9b")
    assert json.loads(r["nb"]) == _s2_neighbors_tokens("88d9b")
    pg = json.loads(r["pg"])
    assert pg["type"] == "Polygon" and len(pg["coordinates"][0]) == 5
    assert r["bad"] is None


def test_preview_plugin(spark, sf_dir):
    """evaluate preview(N): N sample rows + the constant total_count
    column (Kusto's two-table output folded into one frame)."""
    rows = kql(spark, sf_dir,
               "nation | evaluate preview(3)").collect()
    assert len(rows) == 3
    assert all(r["total_count"] == 25 for r in rows)
    with pytest.raises(ValueError, match="preview"):
        kql(spark, sf_dir, "nation | evaluate preview(0)")


def test_schema_merge_plugin(spark, sf_dir):
    """evaluate schema_merge over a union of getschema outputs:
    first-seen ordinals, agreed types kept, conflicts widen to
    variant (documented deviation)."""
    rows = kql(spark, sf_dir, """
      union (nation | getschema),
            (nation | project n_nationkey = tostring(n_nationkey),
                              extra = 1 | getschema)
      | evaluate schema_merge()
    """).collect()
    got = {r["ColumnName"]: (r["ColumnOrdinal"], r["DataType"])
           for r in rows}
    assert got["n_nationkey"][1] == "variant"  # bigint vs string
    assert got["n_nationkey"][0] == 0
    assert got["extra"][1] in ("int", "bigint")
    # PreserveOrder default: ordinal order
    assert [r["ColumnName"] for r in rows][0] == "n_nationkey"
    with pytest.raises(ValueError, match="getschema-shaped"):
        kql(spark, sf_dir, "nation | evaluate schema_merge()")


def test_diffpatterns_text_plugin(spark, sf_dir):
    """diffpatterns_text: token patterns per (token-count, anchor)
    group, '*' where the group disagrees, exact per-cohort counts."""
    rows = kql(spark, sf_dir, """
      datatable(line:string, cohort:string) [
        'login ok user1', 'A',
        'login ok user2', 'A',
        'login fail user3', 'B',
        'login fail user4', 'B',
        'logout done', 'A',
        'logout done', 'B'
      ] | evaluate diffpatterns_text(line, cohort, 'A', 'B', 0.0)
    """).collect()
    got = {r["pattern"]: (r["count_a"], r["count_b"]) for r in rows}
    # 3-token lines share anchor 'login': ok/fail and users differ
    assert got["login * *"] == (2, 2)
    assert got["logout done"] == (1, 1)
    # default min_diff=1.0 drops the balanced patterns entirely
    assert kql(spark, sf_dir, """
      datatable(line:string, cohort:string) [
        'logout done', 'A', 'logout done', 'B'
      ] | evaluate diffpatterns_text(line, cohort, 'A', 'B')
    """).count() == 0
    rows2 = kql(spark, sf_dir, """
      datatable(line:string, cohort:string) [
        'err disk full', 'A', 'err disk full', 'A', 'ok', 'B'
      ] | evaluate diffpatterns_text(line, cohort, 'A', 'B', 50.0)
    """).collect()
    got2 = {r["pattern"]: r["percent_diff"] for r in rows2}
    assert got2["err disk full"] == 100.0
    assert got2["ok"] == -100.0


def test_percentile_array_tdigest(spark, sf_dir):
    """percentile_array_tdigest: one crossing per requested
    percentile, varargs and dynamic-array forms agree with the
    scalar percentile_tdigest."""
    r = kql(spark, sf_dir, """
      datatable (x: real) [1.0, 2.0, 2.0, 9.0]
        | evaluate tdigest(x, 1.0)
        | project pa = tostring(percentile_array_tdigest(
                    tdigest, 0, 50, 100)),
                  pd = tostring(percentile_array_tdigest(
                    tdigest, dynamic([0, 50, 100]))),
                  p50 = percentile_tdigest(tdigest, 50)
    """).collect()[0]
    import json
    assert json.loads(r["pa"]) == [1.0, r["p50"], 9.0]
    assert json.loads(r["pd"]) == json.loads(r["pa"])


def test_geo_shape_kernels():
    """Pure-kernel pins for densify/simplify/intersects (no Spark)."""
    from azure_kusto_parquet_conv_spark.kql import (
        _geo_densify_ring,
        _geo_hav_m,
        _geo_lines_intersect,
        _geo_simplify_ring,
    )
    # densify: no edge longer than tol; endpoints preserved
    line = [[0.0, 0.0], [1.0, 0.0]]
    d = _geo_densify_ring(line, 20000.0)
    assert d[0] == [0.0, 0.0] and d[-1] == [1.0, 0.0]
    assert len(d) > 2
    for a, b in zip(d, d[1:]):
        assert _geo_hav_m(a, b) <= 20000.0 + 1e-6
    # equator slerp stays on the equator
    assert all(abs(p[1]) < 1e-9 for p in d)
    # simplify: collinear interior points drop, a real corner stays
    zig = [[0.0, 0.0], [0.5, 0.0], [1.0, 0.0], [1.0, 1.0]]
    s = _geo_simplify_ring(zig, 100.0)
    assert s == [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]]
    # a deviation below epsilon is smoothed away
    wiggle = [[0.0, 0.0], [0.5, 0.00001], [1.0, 0.0]]
    assert _geo_simplify_ring(wiggle, 100.0) == [[0.0, 0.0],
                                                 [1.0, 0.0]]
    assert len(_geo_simplify_ring(wiggle, 0.1)) == 3
    # intersects: crossing, touching, disjoint
    assert _geo_lines_intersect([[0, 0], [2, 2]], [[0, 2], [2, 0]])
    assert _geo_lines_intersect([[0, 0], [1, 1]], [[1, 1], [2, 0]])
    assert not _geo_lines_intersect([[0, 0], [1, 0]],
                                    [[0, 1], [1, 1]])


def test_geo_shape_spark_dispatch(spark, sf_dir):
    """densify/simplify/intersects end-to-end through the compiler."""
    import json
    r = kql(spark, sf_dir, """
      print d = tostring(geo_line_densify(dynamic({
              "type":"LineString",
              "coordinates":[[0.0,0.0],[1.0,0.0]]}), 30000)),
            s = tostring(geo_line_simplify(dynamic({
              "type":"LineString",
              "coordinates":[[0.0,0.0],[0.5,0.00001],[1.0,0.0]]}),
              100)),
            ps = tostring(geo_polygon_simplify(dynamic({
              "type":"Polygon",
              "coordinates":[[[0.0,0.0],[0.5,0.00001],[1.0,0.0],
                              [1.0,1.0],[0.0,1.0],[0.0,0.0]]]}),
              100)),
            x = geo_intersects_2lines(dynamic({"type":"LineString",
              "coordinates":[[0.0,0.0],[2.0,2.0]]}),
              dynamic({"type":"LineString",
              "coordinates":[[0.0,2.0],[2.0,0.0]]})),
            nx = geo_intersects_2lines(dynamic({"type":"LineString",
              "coordinates":[[0.0,0.0],[1.0,0.0]]}),
              dynamic({"type":"LineString",
              "coordinates":[[0.0,1.0],[1.0,1.0]]})),
            bad = geo_line_simplify(dynamic({"type":"Point",
              "coordinates":[0.0,0.0]}), 10)
    """).collect()[0]
    dd = json.loads(r["d"])
    assert dd["type"] == "LineString"
    assert len(dd["coordinates"]) >= 4
    ss = json.loads(r["s"])
    assert ss["coordinates"] == [[0.0, 0.0], [1.0, 0.0]]
    pp = json.loads(r["ps"])
    assert pp["coordinates"][0] == [[0.0, 0.0], [1.0, 0.0],
                                    [1.0, 1.0], [0.0, 1.0],
                                    [0.0, 0.0]]
    assert r["x"] is True and r["nx"] is False
    assert r["bad"] is None


def test_h3_family_contract(spark, sf_dir):
    """The geo_*h3cell* family delegates to the optional `h3`
    reference library (the published base-cell tables are not
    re-derivable in closed form — a lookalike would mint
    non-conformant tokens). Absent package -> loud compile-time
    error naming the alternative codecs; present package -> the
    Kusto doc example must hold."""
    from azure_kusto_parquet_conv_spark.kql import _h3_api
    if _h3_api() is None:
        with pytest.raises(ValueError, match="requires the optional"):
            kql(spark, sf_dir,
                "print c = geo_point_to_h3cell(-122.409290, "
                "37.774920, 9)")
        with pytest.raises(ValueError, match="requires the optional"):
            kql(spark, sf_dir,
                "print p = geo_h3cell_parent('8928308280fffff')")
        return
    r = kql(spark, sf_dir, """
      print c = geo_point_to_h3cell(-122.409290, 37.774920, 9),
            p = geo_h3cell_parent('8928308280fffff'),
            n = tostring(geo_h3cell_neighbors('8928308280fffff'))
    """).collect()[0]
    assert r["c"] == "8928308280fffff"
    assert r["p"] == "8828308281fffff"
    import json
    assert "8928308280fffff" in json.loads(r["n"])


def test_anyif_buildschema_bag_zip(spark, sf_dir):
    """anyif == take_anyif; buildschema returns the merged VARIANT
    schema in DDL text (documented deviation); bag_zip pairs keys to
    values by index (extra keys null-pad, extra values drop)."""
    import json
    r = kql(spark, sf_dir, """
      datatable(g:long, v:real) [1, 10.0, 1, 20.0, 2, 5.0]
      | summarize a = anyif(v, v > 15.0) by g | sort by g asc
    """).collect()
    assert [x["a"] for x in r] == [20.0, None]
    s = kql(spark, sf_dir, """
      datatable(j:string) ['{"x": 1}', '{"x": "s", "y": true}']
      | extend d = todynamic(j)
      | summarize sch = buildschema(d)
    """).collect()[0]["sch"]
    assert "x" in s and "y" in s  # merged keys present in the DDL
    z = kql(spark, sf_dir, """
      print b = tostring(bag_zip(dynamic(["k1","k2","k3"]),
                                 dynamic([1, "two"]))),
            n = bag_zip(dynamic(["k"]), todynamic(''))
    """).collect()[0]
    got = json.loads(z["b"])
    assert got == {"k1": 1, "k2": "two", "k3": None}
    assert z["n"] is None


def test_table_reference_functions(spark, sf_dir):
    """table('name') / materialized_view('name') /
    database('db').Name — the database qualifier is accepted and
    ignored (one sf_dir is the whole catalog); let-bound names still
    shadow on-disk tables; works in source AND operand position."""
    assert kql(spark, sf_dir, "table('nation') | count"
               ).collect()[0][0] == 25
    assert kql(spark, sf_dir,
               "database('anydb').nation | count").collect()[0][0] == 25
    assert kql(spark, sf_dir,
               "materialized_view('region') | count"
               ).collect()[0][0] == 5
    # operand position + let shadowing
    rows = kql(spark, sf_dir, """
      let nation = datatable(n_nationkey:long) [1, 2];
      region | union withsource=src table('nation') | count
    """).collect()
    assert rows[0][0] == 7  # 5 regions + the 2-row let, not 25


def test_join_shufflekey_and_num_partitions_hints(spark, sf_dir):
    """hint.shufflekey pre-partitions BOTH sides on the hinted key and
    forces the partitioned join (no broadcast in the plan);
    hint.num_partitions sizes the exchange. Results must equal the
    unhinted join."""
    from azure_kusto_parquet_conv_spark.plans.explain import (
        executed_plan)
    base = kql(spark, sf_dir, """
      orders | join kind=inner customer on $left.o_custkey == $right.c_custkey
             | summarize n = count(), s = sum(o_totalprice)
    """).collect()[0]
    hinted_df = kql(spark, sf_dir, """
      orders | join kind=inner hint.shufflekey=o_custkey
               hint.num_partitions=7 customer
               on $left.o_custkey == $right.c_custkey
             | summarize n = count(), s = sum(o_totalprice)
    """)
    hinted = hinted_df.collect()[0]
    assert hinted["n"] == base["n"]
    # double SUM is summation-order-dependent; the repartition changes
    # the order, so compare within float tolerance
    assert abs(hinted["s"] - base["s"]) < 1e-6 * abs(base["s"])
    # the full (pre-aggregation) join must not broadcast
    joined = kql(spark, sf_dir, """
      orders | join kind=inner hint.shufflekey=o_custkey customer
               on $left.o_custkey == $right.c_custkey
    """)
    assert "BroadcastHashJoin" not in executed_plan(joined)
    # summarize accepts num_partitions after shufflekey too
    agg = kql(spark, sf_dir, """
      lineitem | summarize hint.shufflekey=l_orderkey
                 hint.num_partitions=5 n = count() by l_orderkey
      | count
    """).collect()[0][0]
    assert agg > 0


def test_bare_project_raises(spark, sf_dir):
    """Fuzz find: a bare `project` silently produced a zero-column
    frame; Kusto requires at least one expression."""
    with pytest.raises(ValueError, match="at least one"):
        kql(spark, sf_dir, "nation | project | count")


def test_pipeline_stage_soup_errors_are_clean(spark, sf_dir):
    """Bounded replay of the session's 3k-case stage fuzz: random
    stage combinations either compile or raise ValueError /
    AnalysisException (clear semantic errors) — never IndexError /
    KeyError / TypeError from a compiler error path."""
    import random

    from pyspark.errors import AnalysisException

    from azure_kusto_parquet_conv_spark.kql import KqlCompiler
    c = KqlCompiler(spark, sf_dir)
    random.seed(11)
    stages = ["where a > 1", "project a, b", "extend c = a + 1",
              "summarize n = count() by a", "take 5", "sort by a",
              "count", "distinct a", "top 3 by a", "mv-expand a",
              "parse a with x ':' y", "getschema", "serialize",
              "evaluate bag_unpack(a)", "join (nation) on a",
              "union nation", "invoke f()", "render barchart",
              "lookup (region) on a", "summarize by", "where",
              "project", "extend ="]
    for _ in range(150):
        q = "nation | " + " | ".join(
            random.choice(stages) for _ in range(random.randint(1, 4)))
        try:
            c.compile(q)
        except (ValueError, AnalysisException):
            pass


def test_infer_storage_schema_plugin(spark, sf_dir):
    """infer_storage_schema resolves a bare table name against the
    sf_dir and returns the one-row CSL schema string via the O8
    type-mapping machinery; missing paths raise."""
    r = kql(spark, sf_dir, """
      print x = 1 | evaluate infer_storage_schema('nation')
    """).collect()
    assert len(r) == 1
    s = r[0]["schema"]
    assert "n_nationkey:" in s and "n_name:string" in s
    # must agree with the csl_schema utility itself
    import os

    from azure_kusto_parquet_conv_spark.sources.metadata import (
        csl_schema)
    want = ", ".join(f"{c['name']}:{c['type']}" for c in
                     csl_schema(os.path.join(sf_dir, "nation.parquet")))
    assert s == want
    with pytest.raises(ValueError, match="no parquet"):
        kql(spark, sf_dir,
            "print x=1 | evaluate infer_storage_schema('nope')")


def test_ai_embeddings_plugin(spark, sf_dir):
    """ai_embeddings/ai_embed_text: the 'hash' provider appends a
    deterministic L2-normalized array<float> (pure codegen, no UDF);
    identical texts embed identically, disjoint-token texts are
    orthogonal, non-hash providers raise the loud no-network
    contract."""
    import math
    rows = kql(spark, sf_dir, """
      datatable(id:long, t:string) [
        1, 'alpha beta gamma', 2, 'alpha beta gamma',
        3, 'delta epsilon', 4, ''
      ] | evaluate ai_embeddings(t, 'hash', 32) | sort by id asc
    """).collect()
    e = {r["id"]: r["embedding"] for r in rows}
    assert e[1] == e[2]
    assert abs(sum(v * v for v in e[1]) - 1.0) < 1e-5  # L2-normalized
    # disjoint token sets with no hash collision at dim 32 for these
    # tokens: cosine must be ~0 (collisions would only raise it; the
    # fixed tokens/dim make this deterministic)
    dot = sum(a * b for a, b in zip(e[1], e[3]))
    assert dot < 0.5
    assert all(v == 0.0 for v in e[4])  # empty text -> zero vector
    # plan stays UDF-free
    from azure_kusto_parquet_conv_spark.plans.explain import (
        executed_plan)
    df = kql(spark, sf_dir,
             "documents | take 10 | evaluate ai_embed_text(text)")
    assert len(df.first()["embedding"]) == 64
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    with pytest.raises(ValueError, match="no network"):
        kql(spark, sf_dir,
            "documents | evaluate ai_embeddings(text, 'openai')")


def test_ai_embeddings_retrieval_chain(spark, sf_dir):
    """The full in-engine retrieval chain in ONE KQL query: embed the
    corpus with the hash provider, embed a query string the same way,
    rank by series_cosine_similarity, take top-3. The top hit must be
    the document sharing the most tokens with the query (closed-form
    by construction: identical text embeds to cosine 1.0)."""
    rows = kql(spark, sf_dir, """
      let q = toscalar(print t = 'blue whale migration'
                       | evaluate ai_embed_text(t, 'hash', 32)
                       | project tostring(embedding));
      datatable(id:long, text:string) [
        1, 'blue whale migration',
        2, 'blue whale',
        3, 'stock market report',
        4, 'whale migration patterns'
      ]
      | evaluate ai_embed_text(text, 'hash', 32)
      | extend score = series_cosine_similarity(embedding,
                         todynamic(q))
      | top 3 by score
      | project id, score
    """).collect()
    assert rows[0]["id"] == 1
    assert abs(rows[0]["score"] - 1.0) < 1e-6
    assert {r["id"] for r in rows} <= {1, 2, 4}  # lexical overlap only
    assert rows[0]["score"] >= rows[1]["score"] >= rows[2]["score"]


def test_mv_expand_limit(spark, sf_dir):
    """mv-expand's trailing `limit N` caps PER-RECORD expansion (the
    blowup guard for pathological array rows): the slice happens
    before the explode, in single, multi-array (zipped) and
    with_itemindex forms."""
    r = kql(spark, sf_dir, """
      datatable(a:dynamic) [dynamic([1,2,3,4,5])]
      | mv-expand a to typeof(long) limit 2
    """).collect()
    assert sorted(x["a"] for x in r) == [1, 2]
    r2 = kql(spark, sf_dir, """
      datatable(a:dynamic, b:dynamic)
        [dynamic([1,2,3]), dynamic(["x"])]
      | mv-expand a to typeof(long), b to typeof(string) limit 2
    """).collect()
    assert sorted((x["a"], x["b"]) for x in r2) == [(1, "x"), (2, None)]
    r3 = kql(spark, sf_dir, """
      datatable(a:dynamic) [dynamic([7,8,9])]
      | mv-expand with_itemindex=ix a to typeof(long) limit 2
    """).collect()
    assert sorted((x["ix"], x["a"]) for x in r3) == [(0, 7), (1, 8)]


def test_function_let_default_parameters(spark, sf_dir):
    """Kusto optional parameters: `let f = (x:long = 5) {...}` —
    missing trailing call args fill from defaults; a missing
    no-default param is still an arity error."""
    assert kql(spark, sf_dir,
               "let f = (x:long = 5) { x * 2 }; print y = f()"
               ).collect()[0]["y"] == 10
    assert kql(spark, sf_dir,
               "let f = (x:long = 5) { x * 2 }; print y = f(7)"
               ).collect()[0]["y"] == 14
    assert kql(spark, sf_dir, """
      let f = (a:long, b:long = 100, c:string = 'k') {
        strcat(c, tostring(a + b)) };
      print y = f(1), z = f(1, 2), w = f(1, 2, 'x')
    """).collect()[0].asDict() == {"y": "k101", "z": "k3", "w": "x3"}
    with pytest.raises(ValueError, match="takes 2 args, got 1"):
        kql(spark, sf_dir,
            "let f = (a:long, b:long) { a + b }; print y = f(1)")
    with pytest.raises(ValueError, match="takes 1 args, got 2"):
        kql(spark, sf_dir,
            "let f = (a:long = 1) { a }; print y = f(1, 2)")


def test_getschema_columntype(spark, sf_dir):
    """getschema now carries Kusto's fourth column: ColumnType is the
    CSL type name (DataType keeps the Spark name — documented
    deviation from the .NET System.* form)."""
    got = {r["ColumnName"]: (r["DataType"], r["ColumnType"])
           for r in kql(spark, sf_dir, "lineitem | getschema"
                        ).collect()}
    assert got["l_quantity"][1] == "real"
    assert got["l_orderkey"] == ("bigint", "long")
    assert got["l_shipdate"][1] == "datetime"
    assert got["l_returnflag"] == ("string", "string")


def test_trim_strips_all_matches(spark, sf_dir):
    """Kusto trim removes ALL leading/trailing regex matches, not
    one (probe find: trim('x', 'xxhixx') returned 'xhix')."""
    r = kql(spark, sf_dir, """
      print a = trim('x', 'xxhixx'),
            b = trim('-', '--hello--'),
            c = trim_start('x', 'xxhix'),
            d = trim_end('x', 'hixx'),
            e = trim(' +', '   pad  ')
    """).collect()[0]
    assert r["a"] == "hi" and r["b"] == "hello"
    assert r["c"] == "hix" and r["d"] == "hi"
    assert r["e"] == "pad"


def test_indexof_extended_args_and_tohex_width(spark, sf_dir):
    """indexof start/length/occurrence (0-based, -1 on miss at every
    stage) and tohex's zero-padding minLength."""
    r = kql(spark, sf_dir, """
      print a = indexof('hello world', 'o'),
            b = indexof('hello world', 'o', 5),
            c = indexof('hello world', 'o', 0, -1, 2),
            d = indexof('hello world', 'o', 0, 3),
            e = indexof('hello world', 'zz', 0, -1, 1),
            f = indexof('ababab', 'ab', 0, -1, 3),
            h = tohex(255, 4), h2 = tohex(255),
            h3 = tohex(65535, 2)
    """).collect()[0]
    assert r["a"] == 4 and r["b"] == 7 and r["c"] == 7
    assert r["d"] == -1  # window [0, 3) has no 'o'
    assert r["e"] == -1
    assert r["f"] == 4
    assert r["h"] == "00ff" and r["h2"] == "ff" and r["h3"] == "ffff"


def test_make_list_set_maxsize_and_row_number_start(spark, sf_dir):
    """Probe-found silent wrong answers fixed: make_list/make_set
    (and the *_if forms) honor the maxSize cap; row_number accepts
    Kusto's StartingIndex."""
    r = kql(spark, sf_dir, """
      nation | summarize l = make_list(n_name, 3),
                         s = make_set(n_regionkey, 2),
                         li = make_list_if(n_name, n_regionkey == 0, 2)
    """).collect()[0]
    assert len(r["l"]) == 3 and len(r["s"]) == 2 and len(r["li"]) == 2
    rows = kql(spark, sf_dir, """
      nation | sort by n_nationkey asc | extend r = row_number(10)
             | summarize lo = min(r), hi = max(r)
    """).collect()[0]
    assert (rows["lo"], rows["hi"]) == (10, 34)


def test_bare_percentiles_autonames(spark, sf_dir):
    """Bare `summarize percentiles(x, ...)` auto-names one column per
    percentile like Kusto (percentile_<col>_<P>); bin on a fractional
    size stays DOUBLE (not DECIMAL); datatable accepts timespan
    columns on the microseconds carrier."""
    r = kql(spark, sf_dir, """
      nation | summarize percentiles(n_nationkey, 25, 50, 75)
    """)
    assert r.columns == ["percentile_n_nationkey_25",
                         "percentile_n_nationkey_50",
                         "percentile_n_nationkey_75"]
    row = r.collect()[0]
    assert row[0] <= row[1] <= row[2]
    b = kql(spark, sf_dir,
            "datatable(x:real) [4.7] | extend b = bin(x, 0.5)")
    assert dict(b.dtypes)["b"] == "double"
    assert b.collect()[0]["b"] == 4.5
    t = kql(spark, sf_dir, """
      datatable(t:timespan) [2h, 30m] | summarize s = sum(t)
    """).collect()[0]
    assert t["s"] == (2 * 3600 + 30 * 60) * 1_000_000


def test_hasprefix_hassuffix_and_hex_literals(spark, sf_dir):
    """Probe finds: the hasprefix/hassuffix operator family
    (term-prefix/suffix match over the same term split as `has`,
    case-insensitive by default, _cs and negated forms) and Kusto hex
    int literals (0x1f), normalized to decimal at lex time."""
    r = kql(spark, sf_dir, """
      print a = 'big NATION_7 end' hasprefix 'nat',
            b = 'big NATION_7 end' hasprefix 'ation',
            c = 'big NATION_7 end' hassuffix 'ion',
            d = 'big NATION_7 end' hassuffix 'xyz',
            e = 'x Nat y' hasprefix_cs 'nat',
            f = 'x nat y' hasprefix_cs 'nat',
            g = 'abc' !hasprefix 'ab',
            h = 0x1F, i = 0xff + 1
    """).collect()[0]
    assert r["a"] is True and r["b"] is False
    assert r["c"] is True and r["d"] is False
    assert r["e"] is False and r["f"] is True
    assert r["g"] is False
    assert r["h"] == 31 and r["i"] == 256


def test_verbatim_strings_and_extract_all_groups(spark, sf_dir):
    """Verbatim string literals (@'...': literal backslashes, doubled
    internal quotes) and extract_all's captureGroups form (array of
    per-match capture arrays, bound once per group — zero matches
    yield [])."""
    import json
    r = kql(spark, sf_dir, r"""
      print p = @'c:\path\file',
            q = @'it''s',
            e = tostring(extract_all('(\\w)(\\d)',
                  dynamic([1, 2]), 'a1 b2 c3')),
            f = extract_all('(\\d+)', dynamic([1]), 'x9 y88'),
            z = tostring(extract_all('(\\d+)', dynamic([1, 1]),
                  'nodigits'))
    """).collect()[0]
    assert r["p"] == "c:\\path\\file"
    assert r["q"] == "it's"
    assert json.loads(r["e"]) == [["a", "1"], ["b", "2"], ["c", "3"]]
    assert r["f"] == ["9", "88"]
    assert json.loads(r["z"]) == []


def test_bag_zip_duplicate_keys_last_wins(spark, sf_dir):
    """r11 advice: duplicate keys in bag_zip's key array must yield a
    bag (last key wins, Kusto semantics) — not abort the stage with
    Spark's DUPLICATED_MAP_KEY runtime error."""
    r = kql(spark, sf_dir, """
      print b = tostring(bag_zip(dynamic(["k","k","j"]),
                                 dynamic([1, 2, 3])))
    """).collect()[0]
    import json
    assert json.loads(r["b"]) == {"k": 2, "j": 3}


def test_indexof_negative_start_offsets_from_end(spark, sf_dir):
    """r11 advice: a negative start is an offset from the END by
    abs(start) (Kusto), not a silent -1."""
    r = kql(spark, sf_dir, """
      print a = indexof('hello world hello', 'hello', -5),
            b = indexof('hello world', 'o', -4),
            c = indexof('hello', 'h', -99),
            d = indexof('hello', 'zz', -3)
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (12, 7, 0, -1)


def test_hex_literal_long_semantics(spark, sf_dir):
    """r11 advice: 64-bit hex patterns wrap to signed two's-complement
    long (never a silent DECIMAL(20,0) literal); wider literals are a
    lex error."""
    import pytest

    r = kql(spark, sf_dir, """
      print a = 0xFFFFFFFFFFFFFFFF, b = 0x7FFFFFFFFFFFFFFF,
            c = 0x8000000000000000
    """).collect()[0]
    assert (r["a"], r["b"], r["c"]) == (-1, 2**63 - 1, -2**63)
    # small literals keep the compiler's integer literal carrier
    # (int/bigint — same as decimal literals), never DECIMAL
    df = kql(spark, sf_dir, "print t = 0xFF")
    assert dict(df.dtypes)["t"] in ("int", "bigint")
    with pytest.raises(ValueError, match="overflows long"):
        kql(spark, sf_dir, "print x = 0x1FFFFFFFFFFFFFFFF")


def test_union_withsource_piped_labels_start_at_arg0(spark, sf_dir):
    """r11 advice: piped `T | union withsource=s (...)` labels its
    subpipeline operands union_arg0.. (the source-position offset must
    not leak into the piped form)."""
    got = {r["s"] for r in kql(spark, sf_dir, """
      region | union withsource=s (nation | take 1), (nation | take 1)
             | summarize n = count() by s
    """).collect()}
    assert got == {"$input", "union_arg0", "union_arg1"}
    # source position: operand 0 is the left side and keeps its own
    # name; subpipelines number from where they sit
    got2 = {r["s"] for r in kql(spark, sf_dir, """
      union withsource=s region, (nation | take 1)
        | summarize n = count() by s
    """).collect()}
    assert got2 == {"region", "union_arg1"}


def test_array_fn_registry_empty_and_null_element_property(spark, sf_dir):
    """r11 verdict #5: the sequence(1, size(x)) bug class (Spark's
    sequence(1, 0) DESCENDS, so an unguarded index scaffold turns []
    into 2-element garbage) stays dead across the WHOLE array-fn
    registry — and (r12) the registry accepts dynamic (VARIANT)
    operands, the type every parse_json/dynamic() column carries.
    Property: over [] every element-wise/structural op yields []/null,
    over [null] at most one element; reductions evaluate clean. Ops
    needing element ordering/equality (sort, set ops) run over native
    typed arrays — VARIANT defines neither, the documented contract."""
    import json

    lifted = [
        "series_abs(a)", "series_acos(a)", "series_asin(a)",
        "series_atan(a)", "series_ceiling(a)", "series_cos(a)",
        "series_exp(a)", "series_floor(a)", "series_log(a)",
        "series_sign(a)", "series_sin(a)", "series_sqrt(a)",
        "series_tan(a)",
        "series_add(a, a)", "series_subtract(a, a)",
        "series_multiply(a, a)", "series_divide(a, a)",
        "series_pow(a, 2.0)", "series_greater(a, a)",
        "series_greater_equals(a, a)", "series_less(a, a)",
        "series_less_equals(a, a)", "series_equals(a, a)",
        "series_not_equals(a, a)",
        "array_rotate_left(a, 1)", "array_rotate_right(a, 1)",
        "array_shift_left(a, 1)", "array_shift_right(a, 1)",
        "array_iff(a, a, a)", "array_slice(a, 0, 1)",
        "array_reverse(a)", "array_concat(a, a)", "zip(a, a)",
        "series_fill_const(a, 0.0)", "series_fill_forward(a)",
        "series_fill_backward(a)", "series_fill_linear(a)",
        "series_seasonal(a, 2)", "series_outliers(a)",
        "series_fir(a, 2)", "array_split(a, 1)",
    ]
    native_only = [
        "array_sort_asc(a)", "array_sort_desc(a)",
        "set_union(a, a)", "set_intersect(a, a)",
        "set_difference(a, a)",
    ]
    scalar = [
        "array_length(a)", "array_sum(a)", "array_avg(a)",
        "array_index_of(a, 1)", "series_sum(a)", "series_avg(a)",
        "series_min(a)", "series_max(a)", "series_stdev(a)",
        "series_product(a)", "series_magnitude(a)",
        "series_dot_product(a, a)",
        "series_pearson_correlation(a, a)",
        "series_stats_dynamic(a)", "series_fit_line_dynamic(a)",
    ]

    def check(rows_by_tag, batch):
        for n, e, tier in batch:
            if tier != "A":
                continue
            ve = rows_by_tag["empty"][n]
            # array_split over [] yields [[]] in Kusto terms; accept
            # any result whose FLATTENED element count is 0
            if ve not in (None, ""):
                parsed = json.loads(ve)
                if isinstance(parsed, list):
                    flat = [x for el in parsed
                            for x in (el if isinstance(el, list)
                                      else [el])]
                    assert len(flat) == 0, (e, "over [] gave", ve)
            vn = rows_by_tag["nullelem"][n]
            if vn not in (None, ""):
                parsed = json.loads(vn)
                if isinstance(parsed, list):
                    flat = [x for el in parsed
                            for x in (el if isinstance(el, list)
                                      else [el])]
                    assert len(flat) <= 2, (e, "over [null] gave", vn)

    exprs = [(f"r{i}", e, "A") for i, e in enumerate(lifted)] + \
            [(f"s{i}", e, "B") for i, e in enumerate(scalar)]
    for lo in range(0, len(exprs), 18):
        batch = exprs[lo:lo + 18]
        ext = ", ".join(f"{n} = tostring({e})" for n, e, _ in batch)
        rows = kql(spark, sf_dir, f"""
          datatable (tag:string, a:dynamic) [
            "empty", dynamic([]), "nullelem", dynamic([null]) ]
            | extend {ext}
        """).collect()
        check({r["tag"]: r for r in rows}, batch)
    # native typed arrays for the ordering/equality family — and the
    # whole lifted family must behave identically on native arrays
    nat = [(f"n{i}", e, "A")
           for i, e in enumerate(native_only + lifted)]
    for lo in range(0, len(nat), 18):
        batch = nat[lo:lo + 18]
        ext = ", ".join(f"{n} = tostring({e})" for n, e, _ in batch)
        rows = kql(spark, sf_dir, f"""
          datatable (tag:string) [ "empty", "nullelem" ]
            | extend a = iff(tag == "empty",
                             array_slice(pack_array(1.0), 1, 0),
                             pack_array(real(null)))
            | extend {ext}
        """).collect()
        check({r["tag"]: r for r in rows}, batch)


def test_tostring_native_complex_renders_json(spark, sf_dir):
    """Kusto tostring over a dynamic renders JSON text; a NATIVE
    array/map operand (parse_csv, split, pack_array) must route
    through to_json — Spark's display cast leaked '[a, b,c, d]'
    (r12 probe find)."""
    r = kql(spark, sf_dir, """
      print a = tostring(parse_csv('a,"b,c",d')),
            b = tostring(pack_array(1, 2)),
            c = tostring(split('x,y', ',')),
            d = tostring('plain'), e = tostring(123)
    """).collect()[0]
    assert r["a"] == '["a","b,c","d"]'
    assert r["b"] == "[1,2]"
    assert r["c"] == '["x","y"]'
    assert (r["d"], r["e"]) == ("plain", "123")


def test_not_between(spark, sf_dir):
    """!between — the negated range operator (r12 probe find)."""
    r = kql(spark, sf_dir, """
      datatable (x:long) [1, 5, 9] | where x !between (3 .. 7)
        | summarize n = count(), s = sum(x)
    """).collect()[0]
    assert (r["n"], r["s"]) == (2, 10)


def test_arg_max_multi_column(spark, sf_dir):
    """Bare `arg_max(rank, r1, r2)` outputs the maximized expression
    AND every return column (Kusto); the named scalar form
    `x = arg_max(a, b)` keeps the single max_by value (r12 probe
    find)."""
    rows = kql(spark, sf_dir, """
      datatable (k:string, v:long, w:string, z:long)
        ['a',1,'x',10, 'a',2,'y',20, 'b',5,'q',50]
        | summarize arg_max(v, w, z) by k | order by k asc
    """).collect()
    assert [tuple(r) for r in rows] == [("a", 2, "y", 20),
                                        ("b", 5, "q", 50)]
    rows2 = kql(spark, sf_dir, """
      datatable (k:string, v:long) ['a',1,'a',2]
        | summarize arg_min(v, k)
    """).collect()
    assert [tuple(r) for r in rows2] == [(1, "a")]
    named = kql(spark, sf_dir, """
      datatable (k:string, v:long) ['a',1,'b',2]
        | summarize top = arg_max(v, k)
    """).collect()[0]
    assert named["top"] == "b" and len(named) == 1


def test_in_tabular_membership(spark, sf_dir):
    """Kusto tabular in(): the right side is a table expression whose
    FIRST column is the value set — compiles to an IN-subquery that
    Catalyst rewrites to a left-semi join (scale-safe, no 1M-value
    cap). Scalar lists, let-bound tables, in~ and predicates combined
    with AND all keep working (r12 probe find)."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("nation | where n_regionkey in ((region "
             "| where r_name == 'ASIA' | project r_regionkey)) "
             "| count") == 5
    assert g("nation | where n_regionkey !in ((region "
             "| where r_regionkey < 2 | project r_regionkey)) "
             "| count") == 15
    assert g("let picks = region | where r_regionkey < 2 "
             "| project r_regionkey; "
             "nation | where n_regionkey in (picks) | count") == 10
    assert g("nation | where n_regionkey in ((region "
             "| project r_regionkey)) and n_nationkey < 5 | count") == 5
    assert g("datatable (s:string) ['A','b'] | where s in~ "
             "((datatable (x:string) ['a'])) | count") == 1
    # scalar forms unaffected; a column name on the right stays scalar
    assert g("datatable (k:long) [1,2,3] | where k in (2, 3) "
             "| count") == 2
    assert g("datatable (k:long) [1,2] | where k in (k) | count") == 2
    # semi-join plan, not a collected literal list
    df = kql(spark, sf_dir, """
      nation | where n_regionkey in ((region | project r_regionkey))
    """)
    assert "SemiJoin" in df._jdf.queryExecution().executedPlan() \
        .toString().replace("LeftSemi", "SemiJoin") or "LeftSemi" in \
        df._jdf.queryExecution().executedPlan().toString()


def test_in_tabular_leaves_no_temp_views(spark, sf_dir):
    """r12 verdict #3: each tabular in() compile used to leave a
    __kql_inq_N temp view behind — unbounded catalog growth in a
    long-lived session. The views are consumed at analysis time
    (DataFrame construction is eager), so compile() drops its own on
    exit; N compiles leave the catalog exactly as it was."""
    before = {t.name for t in spark.catalog.listTables()}
    for _ in range(3):
        df = kql(spark, sf_dir, """
          nation
            | where n_regionkey in ((region | where r_regionkey < 3
                                            | project r_regionkey))
            | summarize n = count()
        """)
        assert df.collect()[0][0] == 15  # plan still executes post-drop
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before, after - before
    assert not any(n.startswith("__kql_inq_") for n in after)


def test_in_tabular_beyond_filter_context(spark, sf_dir):
    """Spark 4.1 accepts IN-subqueries outside Filter, so tabular in()
    also works in extend/project and nested under OR — contexts valid
    in Kusto that a Filter-only engine would reject (r12 advisory).
    Views are still cleaned up on these paths."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("nation | extend hit = n_regionkey in ((region "
             "| where r_name == 'ASIA' | project r_regionkey)) "
             "| summarize n = countif(hit)") == 5
    assert g("nation | where n_name == 'NATION_0' or n_regionkey !in "
             "((region | project r_regionkey)) | count") == 1
    assert not any(t.name.startswith("__kql_inq_")
                   for t in spark.catalog.listTables())


def test_serialize_enables_row_functions(spark, sf_dir):
    """`serialize` freezes the CURRENT order (Kusto): row_number /
    prev / row_rank_dense / row_cumsum work without a preceding sort,
    ordered by arrival (partition index, then row position); the
    frozen-order expression is unmaterialized so getschema /
    distinct * never see a helper column (r12 probe find)."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("datatable (x:long) [5,6] | serialize "
             "| extend r = row_number() | summarize m = max(r)") == 2
    assert g("datatable (x:long) [10,20,30] | serialize "
             "| extend p = prev(x) | where isnotnull(p) "
             "| summarize s = sum(p)") == 30
    assert g("datatable (x:long) [5] | serialize "
             "| extend r = row_number() | getschema | count") == 2
    assert g("datatable (x:long) [1,1] | serialize | distinct * "
             "| count") == 1
    import pytest
    with pytest.raises(ValueError, match="sort by"):
        kql(spark, sf_dir,
            "datatable (x:long) [1] | extend r = row_number()")


def test_parameterized_tabular_let(spark, sf_dir):
    """`let f = (lo:long) { range ... }; f(5) | ...` — a parameterized
    TABULAR function called as a source: the macro expansion lands as
    a parenthesized subpipeline, and range accepts expression bounds
    that fold to integer constants (r12 probe finds)."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("let f = (lo:long) { range i from lo to lo + 1 step 1 }; "
             "f(5) | count") == 2
    assert g("let f = (lo:long) { range i from lo to lo + 2 step 1 }; "
             "f(1) | summarize s = sum(i)") == 6
    import pytest
    # data-dependent bounds cannot fold: a clean ValueError either from
    # the range folder or the scalar-list fallback parse, never a
    # silent wrong answer
    with pytest.raises(ValueError):
        kql(spark, sf_dir, "region | where r_regionkey in "
                           "((range i from r_name to 3 step 1))")


def test_dynamic_literal_kql_string_quotes(spark, sf_dir):
    """dynamic() bodies accept KQL string literals — single-quoted,
    KQL escapes — not just strict JSON (r12 probe find): the lexer's
    string tokens re-emit as JSON strings before parsing."""
    r = kql(spark, sf_dir, """
      print a = strcat_array(dynamic(['x','y']), '-'),
            b = tostring(dynamic(['it\\'s'])),
            c = tostring(dynamic({'k': 'v'})),
            d = tostring(dynamic(["j"]))
    """).collect()[0]
    assert r["a"] == "x-y"
    assert r["b"] == '["it\'s"]'
    assert r["c"] == '{"k":"v"}'
    assert r["d"] == '["j"]'


def test_extract_typed_fourth_arg(spark, sf_dir):
    """extract(regex, group, text, typeof(T)) converts the capture;
    no match / failed conversion -> null (r12 probe find)."""
    r = kql(spark, sf_dir, """
      print a = extract('([0-9]+)', 1, 'ab 42 cd', typeof(long)) + 1,
            b = extract('([0-9]+)', 1, 'none', typeof(long)),
            c = extract('([a-z]+)', 1, 'ab 42', typeof(string)),
            d = extract('([0-9.]+)', 1, 'pi 3.5', typeof(real))
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (43, None, "ab", 3.5)


def test_mv_expand_property_bag(spark, sf_dir):
    """mv-expand over an OBJECT dynamic expands to one single-property
    bag per entry (Kusto); arrays are untouched (r12 probe find —
    the old array cast crashed with INVALID_VARIANT_CAST)."""
    rows = kql(spark, sf_dir, """
      datatable (d:dynamic) [dynamic({'a':1,'b':2})]
        | mv-expand d | extend s = tostring(d) | order by s asc
    """).collect()
    assert [r["s"] for r in rows] == ['{"a":1}', '{"b":2}']


def test_take_any_star(spark, sf_dir):
    """take_any(*): one arbitrary whole row per group (r12 probe
    find)."""
    r = kql(spark, sf_dir, """
      datatable (k:string, x:long, y:string) ['g',7,'q']
        | summarize take_any(*) by k
    """).collect()[0]
    assert (r["k"], r["x"], r["y"]) == ("g", 7, "q")


def test_tolong_toint_hex_strings(spark, sf_dir):
    """tolong/toint over STRING operands accept hex text ('0xff' ->
    255, Kusto); numeric operands keep the bare try_cast (type-probed,
    so portable-rounded aggregate hot paths pay nothing) (r12 probe
    find)."""
    r = kql(spark, sf_dir, """
      print a = tolong('0xff'), b = toint('0x10'),
            c = tolong('42'), d = tolong('zz'), e = tolong(3.7)
    """).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == \
        (255, 16, 42, None, 3)
    got = kql(spark, sf_dir, """
      datatable (s:string) ['0xFF', '7']
        | extend r = tolong(s) | summarize m = sum(r)
    """).collect()[0]["m"]
    assert got == 262


def test_r12_review_fixes(spark, sf_dir):
    """Regression pins for the r12 code-review findings: null group
    keys keep their percentilew on the fast path; a NULL in a tabular
    !in member set cannot empty the result (three-valued NOT IN);
    range accepts datetime bounds with a timespan step; hex strings
    >= 2^63 wrap signed like hex literals; mv-expand over a scalar
    dynamic emits its one row and over dynamic(null) emits none;
    compound parenthesized pipelines work as tabular in() operands;
    fold and fast percentilew plans agree (same 1e-4 weight grid), so
    a sibling aggregate cannot change the answer."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("datatable (x:long) [1,2,3] | where x !in "
             "((datatable (c:long) [2, long(null)])) | count") == 2
    assert g("range t from datetime(2020-01-01) to "
             "datetime(2020-01-01 01:00:00) step 10m | count") == 7
    assert g("print r = tolong('0xFFFFFFFFFFFFFFFF')") == -1
    assert g("print r = tolong('0x7FFFFFFFFFFFFFFF')") == 2**63 - 1
    assert g("datatable (d:dynamic) [dynamic(5)] | mv-expand d "
             "| count") == 1
    assert g("datatable (d:dynamic) [dynamic(null)] | mv-expand d "
             "| count") == 0
    assert g("datatable (x:long) [0,1,2,3] | where x in "
             "(((region | where r_regionkey < 1 | project r_regionkey)"
             " | union (region | where r_regionkey == 2 "
             "| project r_regionkey))) | count") == 2
    assert g("datatable (e:string) ['0xff'] | extend r = tolong(e) "
             "| project r") == 255
    both = [g("datatable (v:real, w:real) [1.0,2.0, 5.0,1.0] "
              "| summarize p = percentilew(v, w, 50)" + tail +
              " | project p")
            for tail in ("", ", n = count()")]
    assert both[0] == both[1] == 1.0
    # null-key group keeps its computed percentile (null-safe spine)
    rows = kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real)
        ['a',1.0,1.0, 'a',9.0,1.0]
        | extend k2 = iff(k == 'zz', k, tostring(split('', 'q')[5]))
        | summarize p = percentilew(v, w, 50) by k2
    """).collect()
    assert len(rows) == 1 and rows[0]["p"] == 1.0


def test_series_fir_kusto_filter_forms(spark, sf_dir):
    """r13 probe sweep: series_fir's documented signature takes a
    coefficient ARRAY (zero-padded convolution, normalize default =
    all-coefficients-non-negative, center shifts the window) — the
    numeric-width trailing average stays as the engine extension the
    decompose internals and banked oracles use."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0]["f"]
    # the Kusto doc example: 5-tap normalized MA over a step
    assert g("print s = pack_array(0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,"
             "0.0,10.0,10.0,10.0,0.0,0.0,0.0,0.0) "
             "| extend f = series_fir(s, dynamic([1,1,1,1,1]))") == \
        [0.0]*9 + [2.0, 4.0, 6.0, 6.0, 6.0, 4.0, 2.0]
    # centered, unnormalized 3-tap box
    assert g("print s = pack_array(0.0, 0.0, 10.0, 0.0, 0.0) "
             "| extend f = series_fir(s, dynamic([1,1,1]), false, "
             "true)") == [0.0, 10.0, 10.0, 10.0, 0.0]
    # negative coefficient + omitted normalize -> unnormalized diff
    assert g("print s = pack_array(1.0, 3.0, 6.0, 10.0) "
             "| extend f = series_fir(s, dynamic([1, -1]))") == \
        [1.0, 2.0, 3.0, 4.0]
    # legacy numeric width: trailing average over the ACTUAL window
    assert g("print s = pack_array(2.0, 4.0, 6.0) "
             "| extend f = series_fir(s, 2)") == [2.0, 3.0, 5.0]


def test_series_fill_extended_args(spark, sf_dir):
    """r13 probe sweep: the fill family's optional arguments —
    constant default 0, missing-value placeholders, and
    series_fill_linear's fill_edges/constant_value."""
    r = kql(spark, sf_dir, """
      print s = pack_array(null, 2.0, null, 4.0, null)
        | extend c0 = series_fill_const(s),
                 lin = series_fill_linear(s),
                 lo = series_fill_linear(s, real(null), false),
                 lc = series_fill_linear(s, real(null), false, -9.0)
    """).collect()[0]
    assert r["c0"] == [0.0, 2.0, 0.0, 4.0, 0.0]
    assert r["lin"] == [2.0, 2.0, 3.0, 4.0, 4.0]
    assert r["lo"] == [None, 2.0, 3.0, 4.0, None]
    assert r["lc"] == [-9.0, 2.0, 3.0, 4.0, -9.0]
    # sentinel placeholder counts as missing for the directional fills
    p = kql(spark, sf_dir, """
      print s = pack_array(1.0, -1.0, 3.0)
        | extend ff = series_fill_forward(s, -1.0),
                 bf = series_fill_backward(s, -1.0),
                 lp = series_fill_linear(s, -1.0)
    """).collect()[0]
    assert p["ff"] == [1.0, 1.0, 3.0]
    assert p["bf"] == [1.0, 3.0, 3.0]
    assert p["lp"] == [1.0, 2.0, 3.0]


def test_series_decompose_extended_args(spark, sf_dir):
    """r13 probe sweep: decompose-family trend modes ('avg'/'linefit'/
    'none'), period 0 (no seasonal) and -1 (ACF auto-detect gated by
    the seasonality threshold), anomalies ad_method, forecast trend."""
    import json
    r = kql(spark, sf_dir, """
      print s = pack_array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
        | extend (b1, se1, t1) = series_decompose(s, 0, 'avg'),
                 (b2, se2, t2) = series_decompose(s, 0, 'linefit'),
                 (b3, se3, t3) = series_decompose(s, 0, 'none')
        | project t1 = tostring(t1), t2 = tostring(t2),
                  t3 = tostring(t3), se1 = tostring(se1)
    """).collect()[0]
    assert json.loads(r["t1"]) == [3.5] * 6        # overall mean
    assert [round(v, 9) for v in json.loads(r["t2"])] == \
        [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]             # perfect line
    assert json.loads(r["t3"]) == [0] * 6
    assert json.loads(r["se1"]) == [0] * 6         # period 0: no seasonal
    # period -1 auto-detects the planted period 3 (threshold met)
    a = kql(spark, sf_dir, """
      print s = pack_array(1.0, 5.0, 9.0, 1.0, 5.0, 9.0,
                           1.0, 5.0, 9.0, 1.0, 5.0, 9.0)
        | extend (pd, sc) = series_periods_detect(s, 2, 6, 1)
        | extend (b, se, tr, rs) = series_decompose(s, -1, 'avg')
        | project pd = tostring(pd), rs = tostring(rs)
    """).collect()[0]
    assert json.loads(a["pd"])[0] == 3.0
    # with trend 'avg' and a detected period 3, seasonal+trend
    # reproduces the series exactly away from edges: residual ~ 0
    assert all(abs(v) < 1e-9 for v in json.loads(a["rs"]))
    # anomalies: explicit ad_method + linefit trend compile and flag
    f = kql(spark, sf_dir, """
      print s = pack_array(1.0, 2.0, 3.0, 4.0, 100.0, 6.0, 7.0, 8.0)
        | extend (fl, sc, b) = series_decompose_anomalies(
            s, 1.5, 0, 'linefit', 0, 'tukey')
        | project fl = tostring(fl)
    """).collect()[0]
    import json
    assert json.loads(f["fl"])[4] == 1
    # forecast trend modes
    fc = kql(spark, sf_dir, """
      print s = pack_array(2.0, 2.0, 2.0, 2.0)
        | extend f1 = series_decompose_forecast(s, 2, 0, 'avg'),
                 f0 = series_decompose_forecast(s, 2, 0, 'none')
    """).collect()[0]
    assert fc["f1"] == [2.0] * 6
    assert fc["f0"] == [0.0] * 6


def test_series_scalar_broadcast_and_stats_nonfinite(spark, sf_dir):
    """r13 probe sweep: binary series arithmetic broadcasts a numeric
    scalar operand (either side); series_stats(s, true) ignores
    non-finite points while keeping original indexes."""
    r = kql(spark, sf_dir, """
      print s = pack_array(1.0, 2.0, 4.0)
        | extend m = series_multiply(s, 10),
                 d = series_divide(100, s),
                 p = series_pow(s, 2),
                 q = series_pow(2, s)
    """).collect()[0]
    assert r["m"] == [10.0, 20.0, 40.0]
    assert r["d"] == [100.0, 50.0, 25.0]
    assert r["p"] == [1.0, 4.0, 16.0]
    assert r["q"] == [2.0, 4.0, 16.0]
    st = kql(spark, sf_dir, """
      print s = pack_array(5.0, real(inf), 1.0)
        | extend (mn, mnidx, mx, mxidx) = series_stats(s, true)
    """).collect()[0]
    assert (st["mn"], st["mnidx"], st["mx"], st["mxidx"]) == \
        (1.0, 2, 5.0, 0)
    # periods_validate joins the tuple-assign surface
    import json
    pv = kql(spark, sf_dir, """
      print s = pack_array(1.0, 5.0, 9.0, 1.0, 5.0, 9.0, 1.0, 5.0, 9.0)
        | extend (pd, sc) = series_periods_validate(s, 3, 4)
        | project pd = tostring(pd), sc = tostring(sc)
    """).collect()[0]
    assert json.loads(pv["pd"]) == [3.0, 4.0]
    sc = json.loads(pv["sc"])
    assert sc[0] > sc[1]


def test_evaluate_output_schema_clause(spark, sf_dir):
    """r13 probe sweep: ``evaluate plugin(...) : (name:type, ...)`` —
    the declared schema applies as a typed projection after the
    plugin (missing columns -> typed nulls, extras dropped)."""
    row = kql(spark, sf_dir, """
      datatable (k:string) ['a']
        | extend b = dynamic({"x": 1, "y": "s"})
        | evaluate bag_unpack(b) : (k:string, x:long, y:string, z:real)
    """).collect()[0]
    assert (row["k"], row["x"], row["y"], row["z"]) == ("a", 1, "s", None)
    import pytest
    with pytest.raises(ValueError, match="unsupported type"):
        kql(spark, sf_dir, "datatable (k:string) ['a'] "
            "| extend b = dynamic({\"x\": 1}) "
            "| evaluate bag_unpack(b) : (x:frobnicate)")


def test_ipv4_range_to_cidr_list(spark, sf_dir):
    """r13 probe sweep: the minimal CIDR cover of an inclusive IPv4
    range — greedy largest aligned block, bounded 64-step fold, pure
    integer codegen. Invalid input or start > end yields null."""
    import json
    g = lambda q: kql(spark, sf_dir, q).collect()[0]["c"]
    r = g("print c = tostring(ipv4_range_to_cidr_list("
          "'192.168.1.0', '192.168.1.255'))")
    assert json.loads(r) == ["192.168.1.0/24"]
    # the classic awkward range: 10.0.0.5 - 10.0.0.16
    r = g("print c = tostring(ipv4_range_to_cidr_list("
          "'10.0.0.5', '10.0.0.16'))")
    assert json.loads(r) == ["10.0.0.5/32", "10.0.0.6/31",
                             "10.0.0.8/29", "10.0.0.16/32"]
    # single address; full space alignment at 0
    assert json.loads(g("print c = tostring(ipv4_range_to_cidr_list("
                        "'1.2.3.4', '1.2.3.4'))")) == ["1.2.3.4/32"]
    assert json.loads(g("print c = tostring(ipv4_range_to_cidr_list("
                        "'0.0.0.0', '255.255.255.255'))")) == \
        ["0.0.0.0/0"]
    # invalid / reversed -> null
    row = kql(spark, sf_dir, """
      print a = ipv4_range_to_cidr_list('bogus', '1.2.3.4'),
            b = ipv4_range_to_cidr_list('2.0.0.0', '1.0.0.0')
        | project a = tostring(a), b = tostring(b)
    """).collect()[0]
    assert row["a"] in ("", None) and row["b"] in ("", None)


def test_make_series_open_range_and_by_expr(spark, sf_dir):
    """r13 probe sweep: make-series with only `from` or only `to`
    (the open side comes from the data, the bounded side from the
    bound), and computed/named `by` keys."""
    base = ("datatable (ts:datetime, u:long) ["
            "datetime(2024-01-02), 0, datetime(2024-01-03), 1, "
            "datetime(2024-01-04), 0]")
    r = kql(spark, sf_dir, base + """
      | make-series n = count() on ts from datetime(2024-01-01) step 1d
    """).collect()[0]
    assert [v for v in r["n"]] == [0, 1, 1, 1]  # grid starts at `from`
    r = kql(spark, sf_dir, base + """
      | make-series n = count() on ts to datetime(2024-01-07) step 1d
    """).collect()[0]
    assert [v for v in r["n"]] == [1, 1, 1, 0, 0]  # runs through 01-06
    rows = {r["b"]: list(r["n"]) for r in kql(spark, sf_dir, base + """
      | make-series n = count() on ts step 1d by b = u % 2
    """).collect()}
    assert rows == {0: [1, 0, 1], 1: [0, 1, 0]}


def test_mv_apply_itemindex_and_limit(spark, sf_dir):
    """r13 probe sweep: mv-apply's with_itemindex and per-record
    limit (applied BEFORE the subquery)."""
    r = kql(spark, sf_dir, """
      datatable (k:string, a:dynamic) ['x', dynamic([7, 8, 9])]
        | mv-apply with_itemindex = i a to typeof(long) on (
            summarize mx = max(i), s = sum(a))
    """).collect()[0]
    assert (r["mx"], r["s"]) == (2, 24)
    r = kql(spark, sf_dir, """
      datatable (k:string, a:dynamic) ['x', dynamic([1, 2, 3, 4])]
        | mv-apply a to typeof(long) limit 2 on (
            summarize n = count(), s = sum(a))
    """).collect()[0]
    assert (r["n"], r["s"]) == (2, 3)


def test_probe_sweep_r13_operator_forms(spark, sf_dir):
    """r13 probe sweep batch 2: join kind aliases, serialize
    assignments, qualified lookup keys, mv-expand kind=, top-nested
    expression operands, find `* has`, source-position search."""
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("nation | join kind=leftantisemi (region | where "
             "r_regionkey < 2) on $left.n_regionkey == "
             "$right.r_regionkey | count") == 15
    assert g("nation | serialize rn = row_number() "
             "| summarize m = max(rn)") == 25
    assert g("nation | lookup (region | project r_regionkey, r_name) "
             "on $left.n_regionkey == $right.r_regionkey "
             "| where isnotempty(r_name) | count") == 25
    assert g("datatable (d:dynamic) [dynamic({\"x\":1,\"y\":2})] "
             "| mv-expand kind=bag d | count") == 2
    assert g("datatable (d:dynamic) [dynamic([1,2])] "
             "| mv-expand kind=array d | count") == 2
    rows = kql(spark, sf_dir, """
      events
        | top-nested 1 of event_type by count(),
          top-nested 2 of b = tolong(user_id % 2) by n = count()
    """).collect()
    assert len(rows) == 2 and {r["b"] for r in rows} <= {0, 1}
    assert g("find in (nation, region) where * has 'ASIA' | count") == 1
    assert g("search in (region) 'ASIA' | count") == 1
    assert g("search in (nation, region) kind=case_sensitive 'ASIA' "
             "| count") == 1


def test_datetime_raw_arithmetic(spark, sf_dir):
    """r13 probe sweep: raw datetime arithmetic (the gap documented
    since r7) — ts ± timespan -> timestamp, ts - ts -> the µs BIGINT
    timespan carrier (composes with timespan literals), timespan + ts,
    now()/ago() operands; plain numeric arithmetic is untouched."""
    import datetime as dt
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("print d = datetime(2024-01-01) + 1d") == \
        dt.datetime(2024, 1, 2)
    assert g("print d = datetime(2024-01-02) - 1h") == \
        dt.datetime(2024, 1, 1, 23)
    assert g("print t = datetime(2024-01-02) - datetime(2024-01-01)") \
        == 86400000000
    assert g("print b = (datetime(2024-01-02) - datetime(2024-01-01))"
             " == 1d") is True
    assert g("print d = 1d + datetime(2024-01-01)") == \
        dt.datetime(2024, 1, 2)
    assert g("print b = now() - 1d < now()") is True
    assert g("datatable (ts:datetime) [datetime(2024-01-01)] "
             "| extend e = ts + 12h | project e") == \
        dt.datetime(2024, 1, 1, 12)
    assert g("datatable (a:datetime, b:datetime) "
             "[datetime(2024-01-03), datetime(2024-01-01)] "
             "| extend t = a - b | where t > 1d | count") == 1
    assert g("print n = 2 + 3") == 5
    import pytest
    with pytest.raises(ValueError, match="add two datetimes"):
        kql(spark, sf_dir,
            "print x = datetime(2024-01-01) + datetime(2024-01-02)")


def test_dynamic_null_is_sql_null(spark, sf_dir):
    """r13 probe sweep: dynamic(null) IS null — isnull() sees a SQL
    NULL, not a variant holding JSON null."""
    r = kql(spark, sf_dir, """
      print v = isnull(dynamic(null)), w = isnotnull(dynamic([1]))
    """).collect()[0]
    assert (r["v"], r["w"]) == (True, True)
    assert kql(spark, sf_dir,
               "datatable (d:dynamic) [dynamic(null), dynamic([1])] "
               "| where isnull(d) | count").collect()[0][0] == 1


def test_extract_family_r13_fixes(spark, sf_dir):
    """r13 probe sweep: extract no-match -> null (not ''); 2-arg
    extract_all over a literal multi-group regex yields arrays of
    capture arrays (Kusto contract), zero groups yields whole matches;
    strrep's 3-arg delimiter form."""
    import json
    g = lambda q: kql(spark, sf_dir, q).collect()[0][0]
    assert g("print e = extract('x=(\\\\d+)', 1, 'no match')") is None
    assert g("print e = extract('x=(\\\\d+)', 1, 'x=42')") == "42"
    assert json.loads(g(
        "print a = tostring(extract_all('(\\\\d+)-(\\\\d+)', "
        "'a 1-2 b 3-4'))")) == [["1", "2"], ["3", "4"]]
    assert json.loads(g(
        "print a = tostring(extract_all('(\\\\d+)', '1 and 22'))")) \
        == ["1", "22"]
    assert json.loads(g(
        "print a = tostring(extract_all('\\\\d+', '1 and 22'))")) \
        == ["1", "22"]
    # named groups count like Java numbers them
    assert json.loads(g(
        "print a = tostring(extract_all('(?<a>\\\\d)(?:x)(\\\\d)', "
        "'1x2 3x4'))")) == [["1", "2"], ["3", "4"]]
    assert g("print s = strrep('ab', 3, '-')") == "ab-ab-ab"


def test_externaldata_delimited_formats(spark, sf_dir, tmp_path):
    """r13 probe sweep: Kusto's delimited-text externaldata formats —
    tsv / psv / scsv map to the csv reader with the format's
    separator; ignoreFirstRecord still applies."""
    (tmp_path / "t.tsv").write_text("a\t1\nb\t2\n")
    (tmp_path / "t.psv").write_text("k|v\na|1\n")
    (tmp_path / "t.scsv").write_text("a;1\n")
    g = lambda q: kql(spark, sf_dir, q).collect()
    rows = g(f"externaldata (k:string, v:long) ['{tmp_path}/t.tsv'] "
             f"with (format='tsv') | order by k asc")
    assert [(r["k"], r["v"]) for r in rows] == [("a", 1), ("b", 2)]
    rows = g(f"externaldata (k:string, v:long) ['{tmp_path}/t.psv'] "
             f"with (format='psv', ignoreFirstRecord=true)")
    assert [(r["k"], r["v"]) for r in rows] == [("a", 1)]
    rows = g(f"externaldata (k:string, v:long) ['{tmp_path}/t.scsv'] "
             f"with (format='scsv')")
    assert [(r["k"], r["v"]) for r in rows] == [("a", 1)]


def test_ipv4_cidr_cover_matches_stdlib(spark, sf_dir):
    """Differential referee for ipv4_range_to_cidr_list: Python's
    ipaddress.summarize_address_range implements the same minimal-cover
    contract independently — 40 deterministic pseudo-random ranges
    (golden-ratio hashing, no RNG state) must match it exactly."""
    import ipaddress
    import json
    cases = []
    for i in range(40):
        a = (i * 2654435761) % (1 << 32)
        b = min((1 << 32) - 1, a + ((i * 40503) % 70000))
        cases.append((str(ipaddress.IPv4Address(a)),
                      str(ipaddress.IPv4Address(b))))
    rows = ", ".join(f"'{lo}', '{hi}'" for lo, hi in cases)
    got = {r["lo"]: json.loads(r["c"]) for r in kql(spark, sf_dir, f"""
      datatable (lo:string, hi:string) [ {rows} ]
        | extend c = tostring(ipv4_range_to_cidr_list(lo, hi))
    """).collect()}
    for lo, hi in cases:
        want = [str(n) for n in ipaddress.summarize_address_range(
            ipaddress.IPv4Address(lo), ipaddress.IPv4Address(hi))]
        assert got[lo] == want, (lo, hi, got[lo], want)


def test_series_r13_invariants(spark, sf_dir):
    """Structural invariants of the r13 series extensions: a single
    normalized FIR tap is the identity; forward-then-backward fill
    leaves no nulls when any anchor exists; ctukey with 25/75 equals
    tukey on every input probed; decompose components always re-add to
    the series (baseline + residual == original) regardless of trend
    mode."""
    rows = kql(spark, sf_dir, """
      datatable (s:dynamic) [
        dynamic([3.0, null, 7.0, 1.0]),
        dynamic([null, null, 5.0]),
        dynamic([2.0, 2.0, 2.0, 9.0, 2.0, 2.0])
      ]
        | extend ident = series_fir(s, dynamic([1])),
                 filled = series_fill_backward(series_fill_forward(s)),
                 o1 = series_outliers(s, 'tukey'),
                 o2 = series_outliers(s, 'ctukey', real(null), 25, 75)
        | project s = tostring(s), ident = tostring(ident),
                  filled = tostring(filled),
                  o1 = tostring(o1), o2 = tostring(o2)
    """).collect()
    import json
    for r in rows:
        s = json.loads(r["s"])
        ident = json.loads(r["ident"])
        for a, b in zip(s, ident):
            # null taps read 0 under zero-padding; non-null points are
            # reproduced exactly by the single normalized tap
            if a is not None:
                assert abs(a - b) < 1e-12
        assert None not in json.loads(r["filled"])
        assert json.loads(r["o1"]) == json.loads(r["o2"])
    comp = kql(spark, sf_dir, """
      datatable (s:dynamic) [dynamic([1.0, 9.0, 2.0, 8.0, 3.0, 7.0])]
        | extend (b1, se1, t1, r1) = series_decompose(s, 2, 'avg'),
                 (b2, se2, t2, r2) = series_decompose(s, 2, 'linefit'),
                 (b3, se3, t3, r3) = series_decompose(s, 3, 'none')
        | project s = tostring(s),
                  b1 = tostring(b1), r1 = tostring(r1),
                  b2 = tostring(b2), r2 = tostring(r2),
                  b3 = tostring(b3), r3 = tostring(r3)
    """).collect()[0]
    s = json.loads(comp["s"])
    for k in ("1", "2", "3"):
        b = json.loads(comp[f"b{k}"])
        r = json.loads(comp[f"r{k}"])
        for orig, bb, rr in zip(s, b, r):
            assert abs(orig - (bb + rr)) < 1e-9


def test_row_number_restart(spark, sf_dir):
    """r13 probe sweep: row_number(StartingIndex, Restart) resets the
    numbering to StartingIndex at every row where Restart is true
    (the row_cumsum restart shape — run id = running restart count)."""
    rows = kql(spark, sf_dir, """
      datatable (x:long, g:bool)
        [10, true, 20, false, 30, true, 40, false]
        | serialize | extend r = row_number(1, g) | project x, r
    """).collect()
    assert [(r["x"], r["r"]) for r in rows] == \
        [(10, 1), (20, 2), (30, 1), (40, 2)]
    rows = kql(spark, sf_dir, """
      datatable (x:long, g:bool) [10, true, 20, false] | serialize
        | extend r = row_number(100, g) | project r
    """).collect()
    assert [r["r"] for r in rows] == [100, 101]


def test_extract_all_escaped_paren_group_count(spark, sf_dir):
    """r13 advice (medium): the literal-regex group counter must
    decode the SQL string escapes before scanning — a regex-level
    ``\\(`` arrives in the SQL literal as the two characters ``\\\\(``
    and the naive scan counted the trailing paren as a capture group,
    so 2-arg extract_all over ``\\((\\d+)\\)`` asked Spark for group 2
    of a 1-group regex (runtime error)."""
    import json
    r = kql(spark, sf_dir, r"""
      print s = 'a(12) b(34)'
      | extend m = tostring(extract_all(@'\((\d+)\)', s)),
               n = tostring(extract_all(@'\((\w+)=(\w+)\)',
                                        '(k=v) (a=b)'))
    """).collect()[0]
    assert json.loads(r["m"]) == ["12", "34"]
    assert json.loads(r["n"]) == [["k", "v"], ["a", "b"]]


def test_dt_arith_composite_datetime_lhs(spark, sf_dir):
    """r13 advice: datetime-returning renders (startofday/endof* via
    date_trunc, make_datetime, todatetime) on one side of +/- with a
    bare datetime column on the other must compile as Kusto datetime
    arithmetic (µs BIGINT timespan for ts-ts), not Spark's
    DayTimeInterval fallthrough."""
    r = kql(spark, sf_dir, """
      events | take 1
      | extend d1 = startofday(ts) - ts,
               d2 = ts - startofday(ts),
               d3 = todatetime(tostring(ts)) - ts
      | project ok1 = d1 <= 0m, ok2 = d2 >= 0m and d2 < 1d,
                ok3 = d3 == 0m
    """).collect()[0]
    assert (r["ok1"], r["ok2"], r["ok3"]) == (True, True, True)


def test_mv_expand_kind_array_bag_shape(spark, sf_dir):
    """r13 advice: mv-expand kind=array over an OBJECT dynamic yields
    [key, value] two-element arrays (Kusto's bagexpansion=array
    shape); kind=bag (and the default) yields single-property bags."""
    import json
    base = """
      print b = dynamic({"x": 1, "y": "z"})
      | mv-expand KIND b
      | project t = tostring(b)
    """
    arr = [json.loads(r["t"]) for r in kql(
        spark, sf_dir, base.replace("KIND", "kind=array")).collect()]
    assert arr == [["x", 1], ["y", "z"]]
    bag = [json.loads(r["t"]) for r in kql(
        spark, sf_dir, base.replace("KIND", "kind=bag")).collect()]
    assert bag == [{"x": 1}, {"y": "z"}]
    dflt = [json.loads(r["t"]) for r in kql(
        spark, sf_dir, base.replace("KIND ", "")).collect()]
    assert dflt == bag
    # kind=array over a plain ARRAY dynamic is unchanged element-wise
    plain = [r["t"] for r in kql(spark, sf_dir, """
      print b = dynamic([7, 8])
      | mv-expand kind=array b
      | project t = tostring(b)
    """).collect()]
    assert plain == ["7", "8"]


def test_find_star_has_quotes_nonidentifier_columns(spark, sf_dir):
    """r13 advice: ``find ... where * has`` must cover string columns
    whose names are not bare identifiers (they are backtick-quoted in
    the generated OR predicate, not silently skipped)."""
    rows = kql(spark, sf_dir, """
      let T = datatable (['weird col']:string, ok:string) [
        'hello world', 'nope', 'xx', 'hello there'
      ];
      find in (T) where * has 'hello'
    """).collect()
    assert len(rows) == 2
    assert {r["ok"] for r in rows} == {"nope", "hello there"}


def test_tostring_timespan_kusto_text(spark, sf_dir):
    """r13 verdict #3: tostring over a timespan renders Kusto's
    ``[-][d.]hh:mm:ss[.fffffff]`` text instead of the µs BIGINT
    carrier. Covers literal folding (token-level), the ts-ts
    difference render, totimespan/make_timespan/dayofweek renders,
    the always-'0' 100 ns tail digit (µs carrier — documented
    deviation), and that arithmetic-wrapped forms stay numeric."""
    r = kql(spark, sf_dir, """
      print a = tostring(1h), b = tostring(90s), c = tostring(1d),
            d = tostring(totimespan('1.01:02:03.5')),
            e = tostring(make_timespan(1, 2, 3, 4.5)),
            f = tostring(dayofweek(datetime(2024-01-03))),
            g = tostring(datetime(2024-01-02 03:04:05.5)
                         - datetime(2024-01-01)),
            h = tostring(datetime(2024-01-01)
                         - datetime(2024-01-02 03:04:05.5)),
            i = tostring(1500ms)
    """).collect()[0]
    assert r["a"] == "01:00:00"
    assert r["b"] == "00:01:30"
    assert r["c"] == "1.00:00:00"
    assert r["d"] == "1.01:02:03.5000000"
    assert r["e"] == "1.02:03:04.5000000"
    assert r["f"] == "3.00:00:00"          # 2024-01-03 is a Wednesday
    assert r["g"] == "1.03:04:05.5000000"
    assert r["h"] == "-1.03:04:05.5000000"
    # 100 ns tail: fractional part is 7 digits and ends in '0'
    assert r["i"] == "00:00:01.5000000" and r["i"][-1] == "0"
    # arithmetic-wrapped timespan renders stay NUMERIC text
    r2 = kql(spark, sf_dir, """
      print h = tostring(dayofweek(datetime(2024-01-03)) / 1d)
    """).collect()[0]
    assert ":" not in r2["h"]


@pytest.mark.parametrize("query,expected", [
    # real literals are reals (DOUBLE), never Spark's DECIMAL
    ("print v = 1.0 / 3", 1 / 3),
    ("print v = floor(7.5)", 7.0),
    ("print v = 2.5 * 2", 5.0),
    ("print v = tostring(1.5 * 1h)", "01:30:00"),
    # a timespan stays a timespan through every expression and column
    ("print v = tostring(iff(true, 1d, 2d))", "1.00:00:00"),
    ("print v = tostring(1d + 1h)", "1.01:00:00"),
    ("print v = tostring(1d / 2)", "12:00:00"),
    ("print a = 1d | extend v = tostring(a) | project v", "1.00:00:00"),
    ("print a = datetime(2020-01-02) - datetime(2020-01-01)"
     " | extend v = tostring(a) | project v", "1.00:00:00"),
    ("datatable(t:timespan) [2h, 30m] | summarize s = sum(t)"
     " | extend v = tostring(s) | project v", "02:30:00"),
    ("datatable(ts:datetime) [datetime(2024-01-01 06:00),"
     " datetime(2024-01-03)] | extend d = ts - datetime(2024-01-01)"
     " | summarize m = max(d) | extend v = tostring(m) | project v",
     "2.00:00:00"),
    ("datatable(ts:datetime) [datetime(2024-01-01 06:00),"
     " datetime(2024-01-01 18:00)]"
     " | summarize a = avg(ts - datetime(2024-01-01))"
     " | project v = tostring(a)", "12:00:00"),
    # percentile keeps its argument's type, on both percentile modes
    ("datatable(t:timespan) [2h] | summarize p = percentile(t, 50)"
     " | project v = tostring(p)", "02:00:00"),
    ("datatable(t:timespan) [1h, 2h] | summarize p = percentile(t, 50)"
     " | project v = tostring(p)", "01:30:00"),
    ("set percentile_mode = approx; datatable(t:timespan) [2h, 3h]"
     " | summarize p = percentile(t, 50) | project v = tostring(p)",
     "02:00:00"),
    ("datatable(ts:datetime) [datetime(2024-01-01), datetime(2024-01-03)]"
     " | summarize p = percentile(ts, 50)"
     " | project v = format_datetime(p, 'yyyy-MM-dd HH:mm')",
     "2024-01-02 00:00"),
    ("set percentile_mode = approx; datatable(ts:datetime)"
     " [datetime(2024-01-01), datetime(2024-01-03)]"
     " | summarize p = percentile(ts, 50)"
     " | project v = format_datetime(p, 'yyyy-MM-dd')", "2024-01-01"),
    # toscalar substitutes a timespan as a timespan, not its µs count
    ("print a = 1h | extend b = toscalar(print x = 2h)"
     " | project v = tostring(b)", "02:00:00"),
    ("print b = toscalar(print x = -90m + 1ms - 3microseconds)"
     " | project v = tostring(b)", "-01:29:59.9990030"),
    # a fractional timespan literal converts exactly (float gave
    # 1000999 µs for 1.001s)
    ("print v = tostring(1.001s)", "00:00:01.0010000"),
    # the tuple form of percentiles keeps the value's type per column
    ("datatable(t:timespan) [1h, 2h] | summarize (a, b) = "
     "percentiles(t, 10, 90) | project v = tostring(a)", "01:06:00"),
    ("datatable(ts:datetime) [datetime(2024-01-01), datetime(2024-01-03)]"
     " | summarize (a, b) = percentiles(ts, 50, 100)"
     " | project v = format_datetime(a, 'yyyy-MM-dd HH:mm')",
     "2024-01-02 00:00"),
    # weighted percentiles keep the value's type too: the
    # percentilew-only summarize plan and, beside another aggregate,
    # the fold
    ("datatable(t:timespan, w:long) [1h, 1, 2h, 1] | summarize a = "
     "percentilew(t, w, 10) | project v = tostring(a)", "01:00:00"),
    ("datatable(t:timespan, w:long) [1h, 1, 2h, 1] | summarize (a, b) = "
     "percentilesw(t, w, 10, 90) | project v = tostring(b)", "02:00:00"),
    ("datatable(t:timespan, w:long) [1h, 1, 2h, 1] | summarize a = "
     "percentilew(t, w, 90), n = count() | project v = tostring(a)",
     "02:00:00"),
    ("datatable(t:timespan, w:long) [1h, 1, 2h, 1] | summarize (a, b) = "
     "percentilesw(t, w, 10, 90), n = count() | project v = tostring(b)",
     "02:00:00"),
    ("datatable(ts:datetime, w:long) [datetime(2024-01-01), 1, "
     "datetime(2024-01-03), 1] | summarize (a, b) = percentilesw(ts, w, "
     "50, 100) | project v = format_datetime(b, 'yyyy-MM-dd HH:mm')",
     "2024-01-03 00:00"),
    ("datatable(ts:datetime, w:long) [datetime(2024-01-01), 1, "
     "datetime(2024-01-03), 1] | summarize a = percentilew(ts, w, 100), "
     "n = count() | project v = format_datetime(a, 'yyyy-MM-dd HH:mm')",
     "2024-01-03 00:00"),
])
def test_kusto_typed_values(spark, sf_dir, query, expected):
    """Each expression carries its Kusto type: a real literal is a real
    (Spark SQL text would lex `7.5` as DECIMAL), and a timespan — a µs
    BIGINT to Spark — keeps its type through arithmetic, iff, extend
    and summarize columns, so tostring prints Kusto's [d.]hh:mm:ss."""
    v = kql(spark, sf_dir, query).collect()[0]["v"]
    assert type(v) is type(expected) and v == expected


def test_percentilesw_array_keeps_temporal_elements(spark, sf_dir):
    """percentilesw_array over a datetime is an array of datetimes and
    over a timespan an array of its µs carrier (both were doubles)."""
    df = kql(spark, sf_dir, """
      datatable(ts:datetime, t:timespan, w:long)
        [datetime(2024-01-01), 1h, 1, datetime(2024-01-03), 2h, 1]
      | summarize d = percentilesw_array(ts, w, 50, 100),
                  s = percentilesw_array(t, w, 50, 100)""")
    assert df.schema.simpleString() == \
        "struct<d:array<timestamp>,s:array<bigint>>"
    r = df.collect()[0]
    assert [x.day for x in r["d"]] == [1, 3]
    assert r["s"] == [3600000000, 7200000000]


def test_date_difference_is_timespan(spark, sf_dir):
    """max(date) - min(date) is a timespan (not Spark's DAY TO SECOND
    interval), so it divides, compares and prints like one."""
    days = load_table(spark, sf_dir, "orders").agg(F.datediff(
        F.max("o_orderdate"), F.min("o_orderdate"))).collect()[0][0]
    r = kql(spark, sf_dir, """
      orders | summarize d = max(o_orderdate) - min(o_orderdate)
        | where d > 1d
        | extend days = d / 1d, t = tostring(d)
    """).collect()
    assert [(x["days"], x["t"]) for x in r] == \
        [(float(days), f"{days}.00:00:00")]


def test_getschema_reports_timespan(spark, sf_dir):
    """Timespan columns report ColumnType timespan — declared in a
    datatable, printed, or computed by extend — not their long
    carrier."""
    r = kql(spark, sf_dir, """
      datatable(t:timespan, n:long) [2h, 1]
        | extend u = t * 2, w = datetime(2024-01-02) - datetime(2024-01-01)
        | getschema
    """).collect()
    assert {x["ColumnName"]: x["ColumnType"] for x in r} == \
        {"t": "timespan", "n": "long", "u": "timespan", "w": "timespan"}
    r = kql(spark, sf_dir, "print a = 1d | getschema").collect()
    assert r[0]["ColumnType"] == "timespan"
    r = kql(spark, sf_dir, """
      datatable(t:timespan, d:datetime) [1h, datetime(2024-01-01)]
        | summarize pt = percentile(t, 50), pd = percentile(d, 50)
        | extend b = toscalar(print x = 2h)
        | getschema
    """).collect()
    assert {x["ColumnName"]: x["ColumnType"] for x in r} == \
        {"pt": "timespan", "pd": "datetime", "b": "timespan"}


def test_externaldata_timespan_column(spark, sf_dir, tmp_path):
    """A timespan column declared by externaldata is a timespan: a
    parquet file stores its µs carrier as int64, and the declared type
    rides the schema to tostring and getschema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"t": [7200000000], "n": [1]}),
                   str(tmp_path / "t.parquet"))
    src = (f"externaldata (t:timespan, n:long) ['{tmp_path}/t.parquet'] "
           "with (format='parquet')")
    r = kql(spark, sf_dir, f"{src} | extend v = tostring(t)").collect()
    assert [x["v"] for x in r] == ["02:00:00"]
    r = kql(spark, sf_dir, f"{src} | getschema").collect()
    assert {x["ColumnName"]: x["ColumnType"] for x in r} == \
        {"t": "timespan", "n": "long"}


def test_externaldata_timespan_text(spark, sf_dir, tmp_path):
    """Delimited and json files hold a timespan as Kusto's
    [-][d.]hh:mm:ss text: externaldata converts it the way totimespan()
    does, where reading the µs carrier directly gave null."""
    (tmp_path / "t.csv").write_text(
        "02:00:00,1\n1.00:00:30,2\n-00:00:01.5,3\njunk,4\n")
    (tmp_path / "t.json").write_text(
        '{"t": "02:00:00", "n": 1}\n{"t": "1.00:00:30", "n": 2}\n')
    for fmt, want in (("csv", ["02:00:00", "1.00:00:30",
                               "-00:00:01.5000000", None]),
                      ("json", ["02:00:00", "1.00:00:30"])):
        src = (f"externaldata (t:timespan, n:long) "
               f"['{tmp_path}/t.{fmt}'] with (format='{fmt}')")
        r = kql(spark, sf_dir,
                f"{src} | extend v = tostring(t) | sort by n asc").collect()
        assert [x["v"] for x in r] == want, fmt
        assert [x["n"] for x in r] == list(range(1, len(want) + 1))
        r = kql(spark, sf_dir, f"{src} | getschema").collect()
        assert {x["ColumnName"]: x["ColumnType"] for x in r} == \
            {"t": "timespan", "n": "long"}


def test_graph_match_undirected_edges(spark, sf_dir):
    """r13 verdict #5: undirected pattern edges ``-[e]-`` match both
    orientations of every stored edge (two-orientation union), in
    fixed chains, mixed with directed edges, and variable-length
    segments; a directed match in the impossible direction stays
    empty (the negative control)."""
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'b','c', 'x','y'
      ];
      E | make-graph src --> dst
        | graph-match (s)-[e]-(t) project s, t
    """).collect()
    assert sorted((r["s"], r["t"]) for r in rows) == [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("x", "y"), ("y", "x")]
    # mixed undirected + directed chain
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'c','b'
      ];
      E | make-graph src --> dst
        | graph-match (s)-[e1]-(m)-[e2]->(t)
            where t == 'b' project s, m, t
    """).collect()
    assert sorted((r["s"], r["m"], r["t"]) for r in rows) == [
        ("b", "a", "b"), ("b", "c", "b")]
    # variable-length undirected segment (two orientations of one
    # stored edge count as distinct edges — documented subset, so the
    # a->b->a walk appears at length 2)
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b', 'c','b'
      ];
      E | make-graph src --> dst
        | graph-match (s)-[*1..2]-(t)
            where s == 'a' project s, t
    """).collect()
    assert sorted((r["s"], r["t"]) for r in rows) == [
        ("a", "a"), ("a", "b"), ("a", "c")]
    # negative control: the directed spelling of the same anchor
    # (edges stored a->b only) finds nothing FROM b
    rows = kql(spark, sf_dir, """
      let E = datatable (src:string, dst:string) [
        'a','b'
      ];
      E | make-graph src --> dst
        | graph-match (s)-[e]->(t)
            where s == 'b' project s, t
    """).collect()
    assert rows == []


def test_parse_kind_relaxed(spark, sf_dir):
    """r14 (documented non-fix through r13): parse kind=relaxed —
    progressive partial matching. Columns extract as far as the
    prefix holds; a failed TYPED capture nulls itself and everything
    after it; a typed capture needs no trailing literal (it
    self-delimits); the mandatory leading literal still gates the
    whole row. Documented deviation: an unmatched STRING column
    renders '' (not Kusto's null)."""
    rows = kql(spark, sf_dir, """
      let T = datatable (line:string) [
        'name=alpha, slices=12, took=3.5s',
        'name=beta, slices=xx, took=9.1s',
        'name=gamma, slices=7',
        'garbled'
      ];
      T | parse kind=relaxed line with 'name=' nm ', slices='
            n:long ', took=' secs:real 's'
        | project line, nm, n, secs
    """).collect()
    got = {r["line"]: (r["nm"], r["n"], r["secs"]) for r in rows}
    assert got['name=alpha, slices=12, took=3.5s'] == ('alpha', 12, 3.5)
    assert got['name=beta, slices=xx, took=9.1s'] == ('beta', None, None)
    assert got['name=gamma, slices=7'] == ('gamma', 7, None)
    assert got['garbled'] == (None, None, None)
    # parse-where kind=relaxed keeps matching rows
    rows = kql(spark, sf_dir, """
      let T = datatable (line:string) [ 'a=1 b=two', 'zzz' ];
      T | parse-where kind=relaxed line with 'a=' a:long ' b=' b
        | project a, b
    """).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "two")]


def test_bin_family_in_print(spark, sf_dir):
    """r14 (documented non-fix since r10): print bodies route through
    the token-level interceptions, so bin()/bin_at() work in
    pure-text contexts — datetime bins via timespan sizes, numeric
    bins, anchored bins."""
    import datetime as _dt
    r = kql(spark, sf_dir, """
      print a = bin(datetime(2024-03-05 10:47:12), 1h),
            b = bin(7.7, 0.5),
            c = bin_at(datetime(2024-03-05 10:47:12), 1d,
                       datetime(2024-01-01 06:00)),
            d = bin_at(23, 10, 5)
    """).collect()[0]
    assert r["a"] == _dt.datetime(2024, 3, 5, 10, 0)
    assert r["b"] == 7.5
    assert r["c"] == _dt.datetime(2024, 3, 5, 6, 0)
    assert r["d"] == 15
    # pack_all in print: clean error naming the table-context need
    import pytest as _pt
    with _pt.raises(Exception, match="table context"):
        kql(spark, sf_dir, "print x = pack_all()")


def test_series_decompose_test_points_holdout(spark, sf_dir):
    """r14 (documented non-fix through r13): series_decompose
    test_points > 0 excludes the LAST N points from learning (trend
    fit, seasonal phase means, period auto-detect all run on the
    training prefix) while the components still cover the full
    length — trend extrapolates by index, the zero-sum phase means
    repeat periodically. The corrupted holdout (99s) must not leak
    into the fit."""
    import json
    r = kql(spark, sf_dir, """
      print s = dynamic([10, 0, 0, 0, 14, 4, 4, 4, 18, 8, 8, 8,
                         99, 99, 99, 99])
      | extend d = series_decompose(s, 4, 'linefit', 4)
      | project t = tostring(d.trend), se = tostring(d.seasonal)
    """).collect()[0]
    se = json.loads(r["se"])
    t = json.loads(r["t"])
    assert len(se) == len(t) == 16
    # zero-sum phase means of the TRAIN prefix: +7.5 at phase 0,
    # -2.5 elsewhere — repeated over the holdout too
    assert [round(x, 6) for x in se] == [7.5, -2.5, -2.5, -2.5] * 4
    # the 99s did not leak: the fitted trend stays far below them
    assert max(t) < 20
    # a non-literal trend with a holdout is still a clean error
    import pytest as _pt
    with _pt.raises(Exception, match="trend must be the literal"):
        kql(spark, sf_dir, """
          print s = dynamic([1,2,3,4])
          | extend d = series_decompose(s, 0, 4, 2)
          | project t = tostring(d.trend)
        """).collect()


def test_dynamic_coercion_probe_fixes(spark, sf_dir):
    """r14 probe batch 7 (dynamic/VARIANT coercion): arithmetic over
    dynamics coerces to DOUBLE (was an AnalysisException); dynamic
    literals compare against native literals and against each other
    (canonical-JSON deep equality); postfix member access works after
    an indexer or a function call (d.a.b[0].c, todynamic(s).key)."""
    r = kql(spark, sf_dir, """
      print x = dynamic(2) + 1, y = dynamic(2.5) * 2,
            a = dynamic('a') == 'a', b = dynamic(2) == 2,
            c = dynamic([1,2]) == dynamic([1,2]),
            d = dynamic({'x':1}) == dynamic({'x':1}),
            e = dynamic({'x':1}) == dynamic({'x':2})
    """).collect()[0]
    assert (r["x"], r["y"]) == (3.0, 5.0)
    assert (r["a"], r["b"], r["c"], r["d"], r["e"]) == (
        True, True, True, True, False)
    r = kql(spark, sf_dir, """
      print d = dynamic({'a': {'b': [ {'c': 42} ]}})
      | extend x = tolong(d.a.b[0].c),
               y = tolong(todynamic('{"k": 7}').k)
    """).collect()[0]
    assert (r["x"], r["y"]) == (42, 7)
    # between's bare-dot range still parses (the '.' infix must bind
    # only before an identifier)
    r = kql(spark, sf_dir,
            "print b = 3 between (1 .. 5)").collect()[0]
    assert r["b"] is True

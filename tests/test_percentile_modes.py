"""Pins for the r10 percentile sketch path (r9 verdict #4): exact
stays the default, `set percentile_mode = approx;` switches to the
bounded-state estimators, and the estimate provably agrees with exact
where the resolution allows."""

from __future__ import annotations

from azure_kusto_parquet_conv_spark.kql import kql


def test_exact_is_default_and_mode_does_not_leak(spark, sf_dir):
    q = "lineitem | summarize p = percentile(l_quantity, 51)"

    def plan(text):
        return kql(spark, sf_dir,
                   text)._jdf.queryExecution().analyzed().toString()

    assert "approx_percentile" not in plan(q)
    kql(spark, sf_dir, "set percentile_mode = approx;\n" + q).collect()
    # the option is scoped to its own compile: the next query is exact
    assert "approx_percentile" not in plan(q)


def test_approx_plan_uses_sketch_not_exact_buffer(spark, sf_dir):
    plan_a = kql(spark, sf_dir, """
      set percentile_mode = approx;
      lineitem | summarize p = percentile(l_quantity, 51)
          by l_returnflag
    """)._jdf.queryExecution().analyzed().toString()
    assert "approx_percentile" in plan_a
    plan_e = kql(spark, sf_dir, """
      lineitem | summarize p = percentile(l_quantity, 51)
          by l_returnflag
    """)._jdf.queryExecution().analyzed().toString()
    assert "approx_percentile" not in plan_e


def test_approx_matches_exact_on_plateaus(spark, sf_dir):
    """l_quantity is a ~uniform 50-value plateau distribution: the GK
    rank error (n/10000) is far inside a plateau, so the estimate must
    return the same data value as the exact percentile."""
    a = {r["l_returnflag"]: r["p"] for r in kql(spark, sf_dir, """
      set percentile_mode = approx;
      lineitem | summarize p = percentile(l_quantity, 51)
          by l_returnflag
    """).collect()}
    e = {r["l_returnflag"]: r["p"] for r in kql(spark, sf_dir, """
      lineitem | summarize p = percentile(l_quantity, 51)
          by l_returnflag
    """).collect()}
    for flag, v in a.items():
        # exact interpolates between plateau members of the same value,
        # so it equals the plateau value too
        assert abs(v - e[flag]) < 1e-9, (flag, v, e[flag])


def test_percentilew_approx_equals_exact_at_resolving_scale(spark, sf_dir):
    """With a cent-resolution grid the bucketing is lossless for the
    2-decimal price column, so the bounded-state estimate must select
    the SAME cent value as the exact weighted percentile (compared in
    integer cents: bucket*0.01 can land one ulp off the literal parse
    of the same decimal — 5049252*0.01 = 50492.520000000004)."""
    approx = {r["l_returnflag"]: r["p50"] for r in kql(spark, sf_dir, """
      lineitem
        | evaluate percentilew_approx(l_extendedprice, l_quantity,
                                      50, 0.01, l_returnflag)
    """).collect()}
    exact = {r["l_returnflag"]: r["p50"] for r in kql(spark, sf_dir, """
      lineitem
        | summarize p50 = percentilew(l_extendedprice, l_quantity, 50)
            by l_returnflag
    """).collect()}
    assert set(approx) == set(exact)
    for flag in exact:
        assert round(approx[flag] * 100) == round(exact[flag] * 100), (
            flag, approx[flag], exact[flag])


def test_percentilew_approx_state_is_grid_bounded(spark, sf_dir):
    """The pre-aggregate keys on (group, bucket): with a $1000 grid the
    per-group frame is at most ~105 rows regardless of input size —
    the skewed-key buffer cliff of the exact fold cannot occur."""
    df = kql(spark, sf_dir, """
      lineitem
        | evaluate percentilew_approx(l_extendedprice, l_quantity,
                                      50, 1000.0, l_returnflag)
    """)
    rows = df.collect()
    assert 0 < len(rows) <= 3
    for r in rows:
        assert r["p50"] % 1000.0 == 0.0  # grid-aligned estimate


def test_percentilew_exact_plugin_matches_fold(spark, sf_dir):
    """percentilew_exact (the no-buffer relational form) must select
    the SAME value as the summarize fold: the crossing rule is
    identical and l_quantity weights are integral, so the plugin's
    1e-4 weight scaling is lossless here."""
    plug = {r["l_returnflag"]: r["p50"] for r in kql(spark, sf_dir, """
      lineitem
        | evaluate percentilew_exact(l_extendedprice, l_quantity,
                                     50, l_returnflag)
    """).collect()}
    fold = {r["l_returnflag"]: r["p50"] for r in kql(spark, sf_dir, """
      lineitem
        | summarize p50 = percentilew(l_extendedprice, l_quantity, 50)
            by l_returnflag
    """).collect()}
    assert plug == fold


def test_percentilew_exact_plugin_has_no_collect_list(spark, sf_dir):
    """The scale claim, pinned on the plan: the plugin must never
    buffer a group into an array — no collect_list / sort_array
    anywhere in its analyzed plan (the fold has both)."""
    plan = kql(spark, sf_dir, """
      lineitem
        | evaluate percentilew_exact(l_extendedprice, l_quantity,
                                     50, l_returnflag)
    """)._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in plan
    assert "sort_array" not in plan


def test_rolling_percentile_matches_reference(spark, sf_dir):
    """rolling_percentile vs an independent pandas reference on a
    seeded stream: for each hourly bin, the exact P50 of values in the
    trailing 3 bins (crossing rule: smallest value whose cumulative
    count reaches half the window total)."""
    import math
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(240):
        h = rnd.randrange(0, 12)        # hour bin 0..11
        rows.append((h, float(rnd.randrange(1, 100))))
    lines = ",\n".join(
        f"datetime_add('hour', {h}, datetime(2024-01-01)), todouble({v})"
        for h, v in rows)
    got = {r["bin"]: r["p50"] for r in kql(spark, sf_dir, f"""
      datatable (ts:datetime, v:real) [ {lines} ]
        | evaluate rolling_percentile(v, 50, ts, 1h, 3)
    """).collect()}
    # reference: window = bins h-2..h, crossing-rule percentile
    by_bin: dict[int, list[float]] = {}
    for h, v in rows:
        by_bin.setdefault(h, []).append(v)
    import datetime as dt
    for h in range(12):
        vals = sorted(v for b in (h - 2, h - 1, h)
                      for v in by_bin.get(b, []))
        if not vals:
            continue
        tgt = 0.5 * len(vals)
        cum, ans = 0, None
        for v in vals:
            cum += 1
            if cum >= tgt:
                ans = v
                break
        key = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        assert key in got, (h, sorted(got))
        assert got[key] == ans, (h, got[key], ans)
    assert len(got) == 12


def test_rolling_percentile_numeric_axis_and_errors(spark, sf_dir):
    """Numeric axis: bin = floor(axis/size)*size; rollingWindows must
    be >= 1."""
    import pytest

    got = {r["bin"]: r["p100"] for r in kql(spark, sf_dir, """
      datatable (x:long, v:real) [
        0, 1.0,  1, 2.0,  9, 3.0,  11, 4.0, 19, 5.0 ]
        | evaluate rolling_percentile(v, 100, x, 10.0, 2)
    """).collect()}
    # bin 0: rows x<10 -> max 3; bin 10: window covers bins 0+10 -> 5
    assert got == {0.0: 3.0, 10.0: 5.0}
    with pytest.raises(ValueError, match="rollingWindows"):
        kql(spark, sf_dir, """
          datatable (x:long, v:real) [0, 1.0]
            | evaluate rolling_percentile(v, 50, x, 10.0, 0)
        """)


def test_rolling_percentile_plan_is_bounded(spark, sf_dir):
    """Scale pins for rolling_percentile: the fan-out is a bounded
    explode (Generate) and the percentile never buffers a window into
    an array — no collect_list/sort_array in the plan."""
    df = kql(spark, sf_dir, """
      events
        | evaluate rolling_percentile(value, 50, ts, 1h, 3, event_type)
    """)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in plan and "sort_array" not in plan
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in phys  # the bins-spine explode
    # end to end at sf0.001: every (group, bin) emits exactly one row
    rows = df.collect() if sf_dir.endswith("0.001") else kql(
        spark, "/root/testdata/sf0.001", """
      events
        | evaluate rolling_percentile(value, 50, ts, 1h, 3, event_type)
    """).collect()
    keys = [(r["event_type"], r["bin"]) for r in rows]
    assert len(keys) == len(set(keys)) and keys


def test_summarize_percentilew_default_is_collect_list_free(spark, sf_dir):
    """r11 verdict #2: the summarize form of percentilew()/
    percentilesw() compiles to the percentilew_exact pre-agg +
    cumulative-window plan by default — no per-group (value, weight)
    array ever materializes (a skewed group at 100 TB would land its
    whole pair list on one task under the old collect_list fold)."""
    df = kql(spark, sf_dir, """
      lineitem
        | summarize p50 = percentilew(l_extendedprice, l_quantity, 50),
                    p90 = percentilew(l_extendedprice, l_quantity, 90)
            by l_returnflag
    """)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "collect_list" not in plan and "sort_array" not in plan
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in phys
    # value parity with the evaluate percentilew_exact plugin (same
    # plan family, same weight contract)
    want = {(r["l_returnflag"], r["p50"]) for r in kql(spark, sf_dir, """
      lineitem
        | evaluate percentilew_exact(l_extendedprice, l_quantity, 50,
                                     l_returnflag)
    """).collect()}
    got = {(r["l_returnflag"], r["p50"]) for r in df.collect()}
    assert got == want


def test_summarize_percentilesw_tuple_takes_fast_path(spark, sf_dir):
    """Tuple and bare plural forms ride the same window plan; split
    columns match the single-percentile aggregates."""
    df = kql(spark, sf_dir, """
      lineitem
        | summarize (a, b) = percentilesw(l_extendedprice, l_quantity,
                                          50, 90)
            by l_returnflag
    """)
    assert "collect_list" not in df._jdf.queryExecution().analyzed().toString()
    singles = kql(spark, sf_dir, """
      lineitem
        | summarize a = percentilew(l_extendedprice, l_quantity, 50),
                    b = percentilew(l_extendedprice, l_quantity, 90)
            by l_returnflag
    """)
    assert sorted(map(tuple, df.collect())) == \
        sorted(map(tuple, singles.collect()))


def test_summarize_percentilew_fast_path_edge_semantics(spark, sf_dir):
    """Fold-parity edges: a group whose every weight is invalid
    (null / <= 0) still emits its row with a NULL percentile, and
    mixed aggregates fall back to the fold (single expression form
    composes with other aggs)."""
    rows = {r["k"]: r["p"] for r in kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real) [
        "a", 1.0, 1.0,  "a", 2.0, 1.0,  "a", 3.0, 2.0,
        "b", 5.0, 0.0,  "b", 6.0, -1.0 ]
        | summarize p = percentilew(v, w, 50) by k
    """).collect()}
    assert rows == {"a": 2.0, "b": None}
    mixed = kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real) [
        "a", 1.0, 1.0,  "a", 2.0, 1.0,  "a", 3.0, 2.0 ]
        | summarize n = count(), p = percentilew(v, w, 50) by k
    """)
    assert "collect_list" in mixed._jdf.queryExecution().analyzed().toString()
    r = mixed.collect()[0]
    assert (r["k"], r["n"], r["p"]) == ("a", 3, 2.0)


def test_bare_percentilesw_auto_names_agree_across_plans(spark, sf_dir):
    """r12 advisory: bare `percentilesw(v, w, P...)` auto-names derive
    from the RAW percentile token text on BOTH plans — adding an
    unrelated sibling aggregate (which flips summarize from the fast
    window plan to the fold) must never change an output column name,
    even for non-canonical literals like `50.0`."""
    fast = kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real) [
        "a", 1.0, 1.0,  "a", 2.0, 1.0,  "a", 3.0, 2.0 ]
        | summarize percentilesw(v, w, 50.0, 99.9) by k
    """)
    assert "collect_list" not in \
        fast._jdf.queryExecution().analyzed().toString()
    fold = kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real) [
        "a", 1.0, 1.0,  "a", 2.0, 1.0,  "a", 3.0, 2.0 ]
        | summarize n = count(), percentilesw(v, w, 50.0, 99.9) by k
    """)
    assert "collect_list" in \
        fold._jdf.queryExecution().analyzed().toString()
    assert [c for c in fast.columns if c.startswith("percentile_")] \
        == [c for c in fold.columns if c.startswith("percentile_")] \
        == ["percentile_v_50_0", "percentile_v_99_9"]
    # canonical integer literals keep the classic Kusto name
    canon = kql(spark, sf_dir, """
      datatable (k:string, v:real, w:real) [ "a", 1.0, 1.0 ]
        | summarize percentilesw(v, w, 50) by k
    """)
    assert "percentile_v_50" in canon.columns
    # values agree too (the fold's long accumulator matches the window
    # plan's long cumulative sum on the shared 1e-4 grid)
    f = fast.collect()[0]
    g = fold.collect()[0]
    assert (f["percentile_v_50_0"], f["percentile_v_99_9"]) \
        == (g["percentile_v_50_0"], g["percentile_v_99_9"]) == (2.0, 3.0)

"""Structured Streaming over the events table.

The reference is strictly batch (one file in, one stream of lines out —
SURVEY.md §2.4 'streaming: ABSENT'); this module is the extension that
makes the same event-table operators incremental:

- ``windowed_counts``  : tumbling-window counts with a watermark — the
  streaming twin of queries.q_tumbling_window (same plan shape, so batch
  and stream results agree for on-time data).
- ``sessionize_stream``: inactivity-gap sessions via
  ``applyInPandasWithState`` — the streaming twin of
  operators.relational.sessionize.
- ``sliding_window_counts_stream``: the rolling count/dcount MAU curve
  — the streaming twin of ``evaluate sliding_window_counts`` (explode
  to bins + chained windowed aggregations for the exact dcount).
- ``activity_engagement_stream``: the incremental DAU/MAU engagement
  ratio — same shape with an inner-activity flag per exploded row.
- ``scan_stream``, ``sequence_detect_stream`` and
  ``row_window_session_stream``: the watermark-buffered twins of the
  KQL ``scan``, ``evaluate sequence_detect`` and ``row_window_session``
  kernels. Each transition rule and the watermark buffer live once, in
  ``operators/automata.py``, and the batch kernels step the same
  functions, so a stream fed a gap-free time-ordered prefix gives the
  batch answer by construction.

At scale these run on a real source (Kafka/files landing in a directory);
tests feed a file-source directory and drain with processAllAvailable.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from azure_kusto_parquet_conv_spark.operators import automata
from azure_kusto_parquet_conv_spark.session import prepare_session

# events schema as stored (ts is timestamp[us]); streams must declare the
# schema up front — no inference on a file source.
EVENTS_RAW_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

# Legacy encoding: ts stored as timestamp[ns], which Spark scans as raw
# int64 under legacy.parquet.nanosAsLong.
EVENTS_RAW_SCHEMA_NS = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def normalize_events(raw: DataFrame) -> DataFrame:
    """Normalize either physical ``ts`` encoding (int64 epoch-ns or
    timestamp) to the logical surface every operator uses: microsecond
    TimestampType ``ts`` + integer epoch-ns ``ts_ns``. Pure column
    expressions — works identically on batch and streaming DataFrames."""
    if dict(raw.dtypes).get("ts") == "bigint":
        return raw.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
    return raw.withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000))


def _stream_schema_for(dir_path: str) -> StructType:
    """Pick the declared stream schema from one parquet footer: a
    timestamp[ns] ``ts`` arrives as raw int64 under
    legacy.parquet.nanosAsLong, so declaring TimestampType against a
    legacy fixture would fail at runtime. File-source streams can't
    infer, so peek driver-side (one footer read, no Spark job)."""
    try:
        import glob
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        candidates = sorted(
            glob.glob(os.path.join(dir_path, "*.parquet"))
            + glob.glob(os.path.join(dir_path, "*", "*.parquet")))
        if os.path.isfile(dir_path):
            candidates = [dir_path]
        for fp in candidates[:1]:
            sch = pq.ParquetFile(fp).schema_arrow
            fld = next((f for f in sch if f.name == "ts"), None)
            if (fld is not None and pa.types.is_timestamp(fld.type)
                    and fld.type.unit == "ns"):
                return EVENTS_RAW_SCHEMA_NS
    except Exception:
        pass
    return EVENTS_RAW_SCHEMA


def read_events_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream of events parquet files landing in ``dir_path``.
    The declared schema matches whichever physical ``ts`` encoding the
    directory actually holds; normalize_events maps both to the same
    logical surface downstream."""
    prepare_session(spark)
    raw = (spark.readStream
           .schema(_stream_schema_for(dir_path))
           .parquet(dir_path))
    return normalize_events(raw)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts with late-data handling: events
    later than ``watermark`` behind the max seen event time are dropped
    and their windows finalized (state is bounded — the property that
    matters for an unbounded 100 TB/day stream)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.unix_millis("w.start").alias("window_start_ms"),
                    "event_type", "n", "sum_value"))


def windowed_distinct_users(events: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window DISTINCT-user counts on an unbounded stream via
    mergeable HLL sketches (Datasketches `hll_sketch_agg`): exact
    streaming distinct needs per-user state that grows without bound;
    the sketch keeps per-window state at a fixed few KB and merges
    associatively — the same re-aggregation algebra as the batch
    `hll()/hll_merge()` KQL surface, so stream estimates EQUAL batch
    estimates on the same data (pinned in test_streaming.py). The
    100 TB/day story: per-window sketch partials merge map-side, state
    = windows x 1 sketch."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"))
            .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"),
                 F.count("*").alias("n"))
            .select(F.unix_millis("w.start").alias("window_start_ms"),
                    F.expr("hll_sketch_estimate(sk)").alias("dusers"),
                    "n"))


SESSION_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start_us", LongType()),
    StructField("n_events", LongType()),
])

SESSION_STATE_SCHEMA = StructType([
    StructField("session_start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n_events", LongType()),
])


def sliding_window_counts_stream(events: DataFrame, start: str, end: str,
                                 id_col: str = "user_id",
                                 lookback: str = "7 days",
                                 bin_size: str = "1 day",
                                 watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``evaluate sliding_window_counts`` (kql.py
    `_sliding_window_counts`, the rolling-MAU workhorse): per grid bin
    T (aligned to ``start``, step ``bin_size``), the event count and
    EXACT distinct-id count inside the trailing window
    (T - lookback, T] — incremental on an unbounded stream.

    Same scale shape as batch: each event explodes to the <=
    ceil(lookback/bin) grid bins it contributes to (bounded in-row
    fan-out, no self-join, no stream-stream join), then TWO CHAINED
    windowed aggregations — per-(bin, id) partial counts, then per-bin
    ``sum`` + ``count`` — Spark's multiple-stateful-operator pipeline
    (the only way to an exact streaming dcount; a single streaming agg
    cannot COUNT(DISTINCT)). The event-time watermark rides the
    EXPLODED bin timestamp with delay ``watermark + lookback`` (a bin
    timestamp can lead its event's time by up to the lookback, so this
    is exactly the batch watermark contract re-expressed on the
    shifted clock); a bin finalizes — and APPENDS one output row —
    when no event inside its trailing window can still arrive. Rows
    past ``end`` stay in the plan solely to advance the watermark
    (their bins are cut after aggregation), so a quiet tail still
    closes the grid. State = active bins x ids inside the lookback —
    bounded by (arrival rate x lookback), never by stream length."""
    prepare_session(events.sparkSession)
    from datetime import datetime, timezone

    def us_of(s: str) -> int:
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    lo, hi = us_of(start), us_of(end)
    look, binu = _duration_us(lookback), _duration_us(bin_size)
    if look <= 0 or binu <= 0:
        raise ValueError("lookback and bin_size must be > 0")
    k = -(-look // binu)
    wm_delay_ms = (_duration_us(watermark) + look) // 1000
    t0 = (f"{lo} + CAST(ceil((__w_t - {lo}) / CAST({binu} AS DOUBLE)) "
          f"AS BIGINT) * {binu}")
    # Coverage (bin - t < lookback) rides each row as a FLAG, never a
    # filter below the watermark: when lookback < bin_size an event's
    # next grid point can lie outside its lookback, so the event covers
    # NO bins — and a coverage FILTER is deterministic, so Catalyst
    # pushes it below the EventTimeWatermark node, where it silently
    # eats such rows (including the far-future watermark sentinel)
    # BEFORE they can advance the watermark. The grid then never
    # finalizes its last windows (r9 fix; surfaced by the session_count
    # twin, latent here since r8 for lookback < bin). Uncovered rows
    # instead flow into the first aggregation with __cov = 0 and their
    # empty groups drop between the stateful operators.
    binned = (events
              .select(F.col(id_col).alias("__w_id"),
                      F.unix_micros("ts").alias("__w_t"))
              .where(F.col("__w_t") >= F.lit(lo))
              .select("__w_id", "__w_t", F.explode(F.expr(
                  f"transform(sequence(0, {k - 1}), "
                  f"__swc_j -> ({t0}) + __swc_j * {binu})"))
                  .alias("__w_bin"))
              .select("__w_id",
                      ((F.col("__w_bin") - F.col("__w_t")) < look)
                      .cast("long").alias("__cov"),
                      F.timestamp_micros("__w_bin").alias("__bin_ts"))
              .withWatermark("__bin_ts",
                             f"{wm_delay_ms} milliseconds"))
    per_id = (binned
              .groupBy(F.window("__bin_ts", f"{binu} microseconds")
                        .alias("__win"), F.col("__w_id"))
              .agg(F.sum("__cov").alias("__n")))
    per_bin = (per_id
               .where(F.col("__n") > 0)
               .groupBy(F.window(F.window_time("__win"),
                                 f"{binu} microseconds").alias("__w2"))
               .agg(F.sum("__n").alias("count_"),
                    F.count("*").alias("dcount")))
    # Spark time windows align to the Unix epoch; the grid aligns to
    # ``start``. Each window holds exactly one grid point (step ==
    # width), at offset (lo mod bin) inside it — re-derive it instead
    # of emitting the epoch-aligned window start.
    return (per_bin
            .select(F.timestamp_micros(
                        F.unix_micros(F.col("__w2.start"))
                        + F.lit(lo % binu)).alias("bin"),
                    "count_", "dcount")
            .where(F.unix_micros("bin") <= F.lit(hi)))


def activity_engagement_stream(events: DataFrame, start: str, end: str,
                               id_col: str = "user_id",
                               inner: str = "1 day",
                               outer: str = "7 days",
                               watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``evaluate activity_engagement`` (the DAU/MAU
    engagement ratio): per grid bin T (aligned to ``start``, step =
    ``inner``), dcount of ids active in the INNER trailing window over
    dcount active in the OUTER trailing window, both ending at T —
    incremental on an unbounded stream.

    Same architecture as sliding_window_counts_stream: explode each
    event to its <= outer/inner contributing bins carrying an
    is-inner flag (the bin-distance test is per exploded row, so no
    second pass), then two CHAINED windowed aggregations — per
    (bin, id) a max(inner-flag), per bin the two exact distinct
    counts (a plain count and a conditional sum over the already-
    distinct frame). Watermark rides the exploded bin clock with
    delay ``watermark + outer``; rows past ``end`` advance the
    watermark and their bins are cut after aggregation."""
    prepare_session(events.sparkSession)
    from datetime import datetime, timezone

    def us_of(s: str) -> int:
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    lo, hi = us_of(start), us_of(end)
    inner_us, outer_us = _duration_us(inner), _duration_us(outer)
    if outer_us % inner_us != 0:
        raise ValueError("outer window must be a multiple of inner")
    k = outer_us // inner_us
    wm_delay_ms = (_duration_us(watermark) + outer_us) // 1000
    t0 = (f"{lo} + CAST(ceil((__w_t - {lo}) / CAST({inner_us} AS "
          f"DOUBLE)) AS BIGINT) * {inner_us}")
    binned = (events
              .select(F.col(id_col).alias("__w_id"),
                      F.unix_micros("ts").alias("__w_t"))
              .where(F.col("__w_t") >= F.lit(lo))
              .select("__w_id", F.col("__w_t"), F.explode(F.expr(
                  f"filter(transform(sequence(0, {k - 1}), "
                  f"__ae_j -> ({t0}) + __ae_j * {inner_us}), "
                  f"__ae_b -> __ae_b - __w_t < {outer_us})"))
                  .alias("__w_bin"))
              .select("__w_id",
                      ((F.col("__w_bin") - F.col("__w_t"))
                       < inner_us).cast("int").alias("__w_in"),
                      F.timestamp_micros("__w_bin").alias("__bin_ts"))
              .withWatermark("__bin_ts",
                             f"{wm_delay_ms} milliseconds"))
    per_id = (binned
              .groupBy(F.window("__bin_ts",
                                f"{inner_us} microseconds")
                        .alias("__win"), F.col("__w_id"))
              .agg(F.max("__w_in").alias("__w_in")))
    per_bin = (per_id
               .groupBy(F.window(F.window_time("__win"),
                                 f"{inner_us} microseconds")
                         .alias("__w2"))
               .agg(F.sum("__w_in").cast("long")
                     .alias("dcount_activities_inner"),
                    F.count("*").alias("dcount_activities_outer")))
    return (per_bin
            .select(F.timestamp_micros(
                        F.unix_micros(F.col("__w2.start"))
                        + F.lit(lo % inner_us)).alias("bin"),
                    "dcount_activities_inner",
                    "dcount_activities_outer",
                    F.round(F.col("dcount_activities_inner")
                            / F.col("dcount_activities_outer"), 4)
                     .alias("activity_ratio"))
            .where(F.unix_micros("bin") <= F.lit(hi)))


def active_users_count_stream(events: DataFrame, start: str, end: str,
                              id_col: str = "user_id",
                              lookback: str = "7 days",
                              period: str = "1 day",
                              active_periods: int = 2,
                              bin_size: str = "1 day",
                              watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``evaluate active_users_count`` (kql.py
    `_active_users_count`, the stickiness-aware MAU): per grid bin T
    (aligned to ``start``, step ``bin_size``), the EXACT distinct
    count of ids active in >= ``active_periods`` DISTINCT epoch-
    aligned periods inside the trailing window (T - lookback, T] —
    incremental on an unbounded stream.

    Same scale shape as batch, one aggregation deeper than
    sliding_window_counts_stream: each event explodes to its <=
    ceil(lookback/bin) grid bins CARRYING its period index, then
    THREE chained windowed aggregations — (bin, id, period) dedupe,
    per-(bin, id) distinct-period count with the >= N stickiness
    filter between the stateful operators, per-bin distinct-id count.
    Watermark rides the exploded bin clock with delay ``watermark +
    lookback`` (the exact batch contract on the shifted clock); rows
    past ``end`` advance the watermark, their bins are cut after
    aggregation. State is (active bins x ids x periods-in-lookback) —
    bounded by arrival rate x lookback, never stream length."""
    prepare_session(events.sparkSession)
    from datetime import datetime, timezone

    def us_of(s: str) -> int:
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    lo, hi = us_of(start), us_of(end)
    look, per = _duration_us(lookback), _duration_us(period)
    binu = _duration_us(bin_size)
    if look <= 0 or per <= 0 or binu <= 0:
        raise ValueError("lookback, period and bin_size must be > 0")
    if active_periods < 1:
        raise ValueError("active_periods must be >= 1")
    k = -(-look // binu)
    wm_delay_ms = (_duration_us(watermark) + look) // 1000
    t0 = (f"{lo} + CAST(ceil((__w_t - {lo}) / CAST({binu} AS DOUBLE)) "
          f"AS BIGINT) * {binu}")
    binned = (events
              .select(F.col(id_col).alias("__w_id"),
                      F.unix_micros("ts").alias("__w_t"))
              .where(F.col("__w_t") >= F.lit(lo))
              .select("__w_id", "__w_t",
                      # floor division: pre-epoch timestamps bucket to
                      # the floor period (matches the batch plugin)
                      F.expr(f"CAST(floor(__w_t / CAST({per} AS "
                             f"DOUBLE)) AS BIGINT)").alias("__w_p"),
                      F.explode(F.expr(
                          f"transform(sequence(0, {k - 1}), "
                          f"__auc_j -> ({t0}) + __auc_j * {binu})"))
                      .alias("__w_bin"))
              # coverage rides as a FLAG — a filter would be pushed
              # below the watermark node and stall the grid close
              # (see sliding_window_counts_stream)
              .select("__w_id", "__w_p",
                      ((F.col("__w_bin") - F.col("__w_t")) < look)
                      .cast("long").alias("__cov"),
                      F.timestamp_micros("__w_bin").alias("__bin_ts"))
              .withWatermark("__bin_ts",
                             f"{wm_delay_ms} milliseconds"))
    per_idp = (binned
               .groupBy(F.window("__bin_ts", f"{binu} microseconds")
                         .alias("__w1"),
                        F.col("__w_id"), F.col("__w_p"))
               .agg(F.sum("__cov").alias("__n")))
    per_id = (per_idp
              .where(F.col("__n") > 0)
              .groupBy(F.window(F.window_time("__w1"),
                                f"{binu} microseconds").alias("__w2"),
                       F.col("__w_id"))
              .agg(F.count("*").alias("__np")))
    per_bin = (per_id
               .where(F.col("__np") >= active_periods)
               .groupBy(F.window(F.window_time("__w2"),
                                 f"{binu} microseconds").alias("__w3"))
               .agg(F.count("*").alias("dcount")))
    return (per_bin
            .select(F.timestamp_micros(
                        F.unix_micros(F.col("__w3.start"))
                        + F.lit(lo % binu)).alias("bin"), "dcount")
            .where(F.unix_micros("bin") <= F.lit(hi)))


def session_count_stream(events: DataFrame, start: str, end: str,
                         id_col: str = "user_id",
                         bin_size: str = "1 day",
                         lookback: str = "1 hours",
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``evaluate session_count`` (kql.py
    `_session_count`): per grid bin T, the number of gaps-and-islands
    sessions active at T (a session covers [first_t, last_t +
    lookback) and splits when a gap exceeds ``lookback``).

    The streaming identity that makes this a two-aggregation pipeline
    instead of stateful sessionization: a session's coverage interval
    equals the UNION of its events' per-event intervals [t, t +
    lookback) — consecutive gaps <= lookback leave no holes, and one
    id's sessions never overlap (the next session starts > lookback
    after the previous end). So sessions-active-at-T == distinct ids
    with an event in (T - lookback, T] evaluated at grid points, and
    the plan is exactly the sliding_window_counts explode-to-bins
    recipe: bounded in-row fan-out, (bin, id) dedupe, per-bin count,
    watermark on the shifted bin clock with delay ``watermark +
    lookback``."""
    prepare_session(events.sparkSession)
    from datetime import datetime, timezone

    def us_of(s: str) -> int:
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    lo, hi = us_of(start), us_of(end)
    look, binu = _duration_us(lookback), _duration_us(bin_size)
    if look <= 0 or binu <= 0:
        raise ValueError("lookback and bin_size must be > 0")
    k = -(-look // binu)
    wm_delay_ms = (_duration_us(watermark) + look) // 1000
    t0 = (f"{lo} + CAST(ceil((__w_t - {lo}) / CAST({binu} AS DOUBLE)) "
          f"AS BIGINT) * {binu}")
    binned = (events
              .select(F.col(id_col).alias("__w_id"),
                      F.unix_micros("ts").alias("__w_t"))
              .where(F.col("__w_t") >= F.lit(lo))
              .select("__w_id", "__w_t", F.explode(F.expr(
                  f"transform(sequence(0, {k - 1}), "
                  f"__scs_j -> ({t0}) + __scs_j * {binu})"))
                  .alias("__w_bin"))
              # coverage rides as a FLAG, never a filter below the
              # watermark: the session lookback is typically << bin,
              # so most events' next grid point covers no bins — they
              # must still advance the watermark (a deterministic
              # filter would be pushed below the watermark node;
              # see sliding_window_counts_stream)
              .select("__w_id",
                      ((F.col("__w_bin") - F.col("__w_t")) < look)
                      .cast("long").alias("__cov"),
                      F.timestamp_micros("__w_bin").alias("__bin_ts"))
              .withWatermark("__bin_ts",
                             f"{wm_delay_ms} milliseconds"))
    per_id = (binned
              .groupBy(F.window("__bin_ts", f"{binu} microseconds")
                        .alias("__win"), F.col("__w_id"))
              .agg(F.sum("__cov").alias("__n")))
    per_bin = (per_id
               .where(F.col("__n") > 0)
               .groupBy(F.window(F.window_time("__win"),
                                 f"{binu} microseconds").alias("__w2"))
               .agg(F.count("*").alias("count_")))
    return (per_bin
            .select(F.timestamp_micros(
                        F.unix_micros(F.col("__w2.start"))
                        + F.lit(lo % binu)).alias("bin"), "count_")
            .where(F.unix_micros("bin") <= F.lit(hi)))


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming sessionization with ``applyInPandasWithState``:
    per-user state carries the open session; a gap > ``gap_minutes``
    between events closes it and emits one row per closed session, and the
    event-time timeout closes an idle session once the watermark passes
    its last event + gap.

    Event-time (not processing-time) timeouts on purpose: results are
    deterministic replays of event time, state is bounded by the
    watermark, and an idle source triggers no busy-loop of timeout-check
    micro-batches (processing-time timeouts re-trigger forever on a quiet
    stream — wasted cluster time at scale and an unbounded drain in tests).

    Event-time ordering within a micro-batch is handled by sorting the
    batch; cross-batch disorder is bounded by the watermark.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            (start, _last, n) = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": user_id,
                                 "session_start_us": start,
                                 "n_events": n}])
            return
        ts = []
        for pdf in pdfs:
            ts.extend(int(v) for v in (pdf["ts_ns"] // 1000).tolist())
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((start, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((start, last, n))
        # close once the watermark passes the gap after the last event;
        # max() guards the "timeout must exceed current watermark" rule
        # for late-ish groups.
        timeout_ms = (last + gap_us) // 1000 + 1
        state.setTimeoutTimestamp(max(timeout_ms,
                                      state.getCurrentWatermarkMs() + 1))
        for (s, cnt) in closed:
            yield pd.DataFrame([{"user_id": user_id,
                                 "session_start_us": s,
                                 "n_events": cnt}])

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=SESSION_OUTPUT_SCHEMA,
                stateStructType=SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def enrich_stream(events: DataFrame, dim: DataFrame, on: str | list[str],
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the unbounded
    stream joins against a bounded dimension table (user profile, device
    registry, geo lookup).

    The static side is broadcast-hinted: a stream-static join must not
    shuffle the stream (there is no 'other side' to co-partition with —
    every micro-batch would pay a full exchange), and the dimension is
    re-read per micro-batch so external updates to it are picked up
    between batches. Stateless, so any output mode works and state size
    is zero regardless of stream length."""
    return events.join(F.broadcast(dim), on, how)


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key: str = "user_id",
                          within: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same ``key`` whose event time falls in
    ``[left_ts, left_ts + within]`` (click→purchase attribution, request→
    response correlation).

    Both sides carry a watermark AND the join condition bounds the two
    event times against each other — that pair is what lets the state
    store evict buffered rows: a left row can be dropped once the right
    watermark passes ``left_ts + within``, a right row once the left
    watermark passes ``right_ts``. Without the time bound the join would
    buffer both streams forever (unbounded state on an unbounded stream).
    State is therefore O(arrival rate x (watermark + within)) regardless
    of stream length — the scale property; the shuffle is keyed on the
    join key like a batch hash join, micro-batch by micro-batch."""
    lhs = (left.select(F.col(key).alias(key),
                       F.col("event_id").alias("left_event_id"),
                       F.col("ts").alias("left_ts"))
               .withWatermark("left_ts", watermark))
    rhs = (right.select(F.col(key).alias(f"right_{key}"),
                        F.col("event_id").alias("right_event_id"),
                        F.col("ts").alias("right_ts"))
                .withWatermark("right_ts", watermark))
    cond = ((F.col(key) == F.col(f"right_{key}"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts")
               + F.expr(f"INTERVAL {within}")))
    return (lhs.join(rhs, cond, "inner")
               .select(key, "left_event_id", "right_event_id",
                       F.unix_micros("left_ts").alias("left_ts_us"),
                       F.unix_micros("right_ts").alias("right_ts_us")))


def quantile_sketch_stream(events: DataFrame, value_col: str = "value",
                           window: str = "1 hour", scale: float = 1.0,
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming grid quantile sketch — the unbounded twin of the KQL
    tdigest family (kql.py _tdigest): per event-time window, values
    land on the same deterministic bucket grid
    (``FLOOR(value/scale + 0.5)``) and the output rows
    (window_start, bucket, weight) ARE the sketch in exploded form —
    mergeable downstream by integer addition, percentile readable with
    the family's crossing rule. This is the latency-percentile
    monitoring shape: per-window state is bounded by GRID cardinality
    (the accuracy knob), never event count, so a p99 dashboard over an
    unbounded stream runs forever in fixed memory; the watermark
    closes windows for append-mode emission and evicts their state.
    Exact integer counts make stream output bit-equal to the batch
    sketch over the same rows (pinned stream==batch)."""
    bucket = F.floor(F.col(value_col) / F.lit(scale) + F.lit(0.5)) \
              .cast("long")
    return (events
            .where(F.col(value_col).isNotNull())
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), bucket.alias("bucket"))
            .agg(F.count("*").alias("weight"))
            .select(F.unix_micros(F.col("window.start"))
                     .alias("window_start_us"),
                    "bucket", "weight"))


def cdc_latest_stream(changes: DataFrame, keys: list[str],
                      ts_col: str = "ts") -> DataFrame:
    """Streaming CDC apply — the unbounded twin of
    operators.relational.merge_upsert: over a change-log stream
    (upserts keyed by ``keys``, ordered by event time ``ts_col``),
    maintain the latest row per key. Folding merge_upsert over the
    change batches in order yields exactly this table, which is what
    the stream==batch pin asserts.

    Spark-native shape: ONE streaming aggregation —
    ``groupBy(keys).agg(max_by(struct(values), ts))`` — so the state
    store holds exactly one row per live key. That O(#keys) state is
    the honest minimum for CDC (every key's current value must be
    addressable forever), so no watermark eviction applies — unlike
    the windowed twins above, key state is the product, not a buffer.
    Run in update mode against a keyed sink (the sink applies each
    micro-batch's changed rows as upserts); ties on ``ts_col`` break
    deterministically by the greatest value struct, not arrival order."""
    vals = [c for c in changes.columns
            if c not in keys and c != ts_col]
    latest = F.max_by(
        F.struct(F.col(ts_col), *[F.col(c) for c in vals]),
        F.struct(F.col(ts_col), *[F.col(c) for c in vals]))
    return (changes
            .groupBy(*[F.col(k) for k in keys])
            .agg(latest.alias("__latest"))
            .select(*keys,
                    *[F.col(f"__latest.{c}").alias(c)
                      for c in [ts_col, *vals]]))


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup for at-least-once sources (the streaming
    twin of operators.dedup.exact_dedup): keep the first arrival of each
    key, drop re-deliveries that arrive within ``watermark`` of it.

    ``dropDuplicatesWithinWatermark`` evicts each key's state once the
    event-time watermark passes it — state stays bounded by (key arrival
    rate x watermark), which is what makes this runnable forever on an
    unbounded stream; a plain ``dropDuplicates`` would grow state without
    bound."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


SCAN_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("ts_us", LongType()),
    StructField("step", StringType()),
    StructField("match_id", LongType()),
])

# the state of every watermark-buffered twin: the automaton state and
# the pending rows, packed by operators/automata.py
AUTOMATON_STATE_SCHEMA = StructType([StructField("state", StringType())])


def _buffered(src: DataFrame, fn, out_schema: StructType) -> DataFrame:
    """Run an ``automata.watermark_buffer`` function per ``user_id``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (src.groupBy("user_id")
               .applyInPandasWithState(
                   fn,
                   outputStructType=out_schema,
                   stateStructType=AUTOMATON_STATE_SCHEMA,
                   outputMode="append",
                   timeoutConf=GroupStateTimeout.EventTimeTimeout))


def scan_stream(events: DataFrame, steps: list[tuple[str, str]],
                key: str = "user_id",
                watermark: str = "2 hours") -> DataFrame:
    """Streaming sequence matching — the unbounded twin of the KQL
    ``scan`` operator (kql.py _scan): per ``key``, rows advance a greedy
    single-sequence automaton through ``steps`` (name, SQL predicate)
    in EVENT-TIME order, emitting each matching row with its step name
    and a per-key match_id. Both paths step the same transition rule,
    ``operators/automata.py``'s ``scan``: advance to the next step, else
    EXTEND the current step on a repeat match (Kusto's repeated-step
    semantics), else start a fresh sequence when the completed
    automaton sees a step-1 match.

    Determinism on an out-of-order stream comes from the watermark
    buffer (``automata.watermark_buffer``): arriving rows are held in
    state and only fed to the automaton once the watermark passes their
    event time, so the automaton always consumes a gap-free,
    time-ordered prefix — exactly what the batch operator sees. Late
    rows beyond the watermark are dropped (standard watermark
    contract). State = automaton position + the buffered window, i.e.
    O(arrival rate x watermark) per key, bounded on an unbounded
    stream.

    Spark-first shape (same trick as batch): every step predicate is
    pre-computed by Catalyst into one BITMASK column before the
    stateful pass, so the Python state function never evaluates
    expressions — it walks ints."""
    prepare_session(events.sparkSession)
    names = [n for n, _ in steps]
    # `ts` stays in the projection: the event-time timeout needs the
    # watermark column to survive into the stateful operator.
    # Ordering uses full-precision ts_ns when the source carries it —
    # the batch twin sorts on ts_ns, and two events inside the same
    # microsecond must feed the automaton in the same order on both
    # paths or stream==batch breaks.
    ord_col = (F.col("ts_ns") if "ts_ns" in events.columns
               else F.unix_micros("ts") * F.lit(1000))
    src = (events
           .withWatermark("ts", watermark)
           .select(F.col(key).alias("user_id"), "event_id", "ts",
                   ord_col.alias("ord_ns"),
                   F.expr(automata.step_mask_sql([p for _, p in steps]))
                   .alias("mask")))
    init, step = automata.scan(len(steps), lambda j, r, st: r[3] >> j & 1)

    def rows(pdf):
        ords = pdf["ord_ns"].tolist()
        return zip((o // 1000 for o in ords), ords,
                   pdf["event_id"].tolist(), pdf["mask"].tolist())

    def emit(key_tuple, r, out):
        j, mid, _ = out
        return {"user_id": key_tuple[0], "event_id": r[2],
                "ts_us": r[0], "step": names[j], "match_id": mid}

    return _buffered(src, automata.watermark_buffer(init, step, rows, emit),
                     SCAN_OUTPUT_SCHEMA)


def _duration_us(text: str) -> int:
    """'12 hours' / '30 minutes' / '1 day' -> microseconds (the same
    interval vocabulary withWatermark accepts, so gap/window and
    watermark arguments read uniformly)."""
    m = re.match(
        r"\s*(\d+)\s*(millisecond|second|minute|hour|day|week)s?\s*$",
        text.lower())
    if not m:
        raise ValueError(f"bad duration {text!r}")
    mult = {"millisecond": 1_000, "second": 1_000_000,
            "minute": 60_000_000, "hour": 3_600_000_000,
            "day": 86_400_000_000, "week": 7 * 86_400_000_000}
    return int(m.group(1)) * mult[m.group(2)]


def sequence_detect_stream(events: DataFrame,
                           steps: list[tuple[str, str]],
                           max_gap: str = "12 hours",
                           max_window: str = "1 day",
                           key: str = "user_id",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming ordered-sequence detection — the unbounded twin of
    ``evaluate sequence_detect`` (kql.py _sequence_detect): per
    ``key``, a greedy LATEST-START single-sequence automaton
    advances through ``steps`` (name, SQL predicate) in EVENT-TIME
    order, constrained by ``max_gap`` between consecutive steps and
    ``max_window`` over the whole sequence; ONE output row per
    COMPLETED sequence carrying the key and one ``<step>_ts``
    timestamp per step — the exact batch output shape.

    Same architecture as scan_stream (watermark buffer + Catalyst
    bitmask), and the same transition rule as batch,
    ``operators/automata.py``'s ``sequence_detect``: the automaton
    consumes a gap-free prefix ordered by (time, step bitmask), the
    order the batch kernel sorts by; rows strictly older than the
    watermark at arrival are dropped, equal-to-watermark rows are
    on-time. State is O(arrival rate x watermark) + the fixed
    automaton tuple per key — bounded forever on an unbounded stream.
    """
    import pandas as pd

    prepare_session(events.sparkSession)
    if len(steps) < 2:
        raise ValueError("sequence_detect_stream needs >= 2 steps")
    names = [n for n, _ in steps]
    src = (events
           .withWatermark("ts", watermark)
           .select(F.col(key).alias("user_id"), "ts",
                   F.unix_micros("ts").alias("ts_us"),
                   F.expr(automata.step_mask_sql([p for _, p in steps]))
                   .alias("mask")))
    out_schema = StructType(
        [StructField("user_id", LongType())]
        + [StructField(f"{n}_ts", TimestampType()) for n in names])
    init, step = automata.sequence_detect(
        len(steps), _duration_us(max_gap), _duration_us(max_window))

    def rows(pdf):
        return zip(pdf["ts_us"].tolist(), pdf["mask"].tolist())

    def emit(key_tuple, r, tss):
        return {"user_id": key_tuple[0],
                **{f"{n}_ts": pd.Timestamp(t, unit="us")
                   for n, t in zip(names, tss)}}

    return _buffered(src, automata.watermark_buffer(init, step, rows, emit),
                     out_schema)


def row_window_session_stream(events: DataFrame,
                              max_from_first: str = "1 hours",
                              max_between: str = "30 minutes",
                              key: str = "user_id",
                              watermark: str = "2 hours") -> DataFrame:
    """Streaming duration-capped sessionization — the unbounded twin
    of the KQL ``row_window_session`` extend (kql.py): per ``key``,
    every event is emitted with its session's FIRST event time, where
    a new session starts when the gap from the previous event exceeds
    ``max_between`` OR the distance from the session's first event
    exceeds ``max_from_first``. The duration cap is the rule
    ``sessionize_stream``'s gap-only watermark sessions (and
    gaps-and-islands SQL) cannot express — the start depends
    recursively on the prior start.

    Same architecture as scan_stream, and the same transition rule as
    batch, ``operators/automata.py``'s ``row_window_session``: rows
    buffer in state until the watermark passes their event time, so
    the sessionizer walks a gap-free time-ordered prefix — identical
    to the batch kernel; equal-to-watermark rows are on-time, older
    ones drop. State is O(arrival rate x watermark) + two timestamps
    per key."""
    prepare_session(events.sparkSession)
    src = (events
           .withWatermark("ts", watermark)
           .select(F.col(key).alias("user_id"), "ts", "event_id",
                   F.unix_micros("ts").alias("ts_us")))
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("session_start_us", LongType()),
    ])
    init, step = automata.row_window_session(
        _duration_us(max_from_first), _duration_us(max_between))

    def rows(pdf):
        # (time, restart, reported value, event id): a session reports
        # its first event time
        ts = pdf["ts_us"].tolist()
        return zip(ts, itertools.repeat(False), ts,
                   pdf["event_id"].tolist())

    def emit(key_tuple, r, first):
        return {"user_id": key_tuple[0], "event_id": r[3], "ts_us": r[0],
                "session_start_us": first}

    return _buffered(src, automata.watermark_buffer(init, step, rows, emit),
                     out_schema)

"""Relational operators Spark lacks as single primitives: as-of join,
range join, sessionization, grouped top-k.

The reference implements no relational operators at all (SURVEY.md §2.4);
these are the extension layer, each built scale-first:

- as-of join: union + partitioned window scan (one shuffle on the key,
  no range explosion) instead of an inequality join, which Spark would
  execute as a broadcast-nested-loop at O(|L|x|R|).
- range join: equi-key join + range predicate; with a bounded window the
  at-scale refinement is time-bucketing both sides so the join is
  equi-(key, bucket) — provided here as `range_join_bucketed`.
- sessionization: lag + cumulative sum over a (key, ts) window — the
  standard single-shuffle formulation.
- top-k per group: row_number window + filter; Catalyst rewrites the
  global variant to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str | list[str],
              left_ts: str = "ts", right_ts: str = "ts",
              value_cols: list[str] | None = None,
              direction: str = "backward",
              suffix: str = "_right") -> DataFrame:
    """For each left row, attach the nearest right row at-or-before
    (``backward``) / at-or-after (``forward``) its timestamp, per key.

    Implementation: tag both sides, union, and carry the right side's values
    through an ordered window per key (``last`` with ignoreNulls going
    backward). Exactly one shuffle on the join key; no cross product; AQE
    handles skewed keys. Equal timestamps: right rows sort before left rows,
    so an exact-tie right row IS matched (standard as-of semantics).
    """
    on = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on + [right_ts]]
    right_carry = value_cols + [right_ts]
    carried = [f"{c}{suffix}" for c in right_carry]
    left_only = [c for c in left.columns if c not in on]

    lt = left.select(
        *on, *left_only,
        F.col(left_ts).alias("__t"), F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
          for c in right_carry],
    )
    rt = right.select(
        *on,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        F.col(right_ts).alias("__t"), F.lit(0).alias("__side"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_carry],
    )
    u = lt.unionByName(rt)

    order = [F.col("__t").asc() if direction == "backward" else F.col("__t").desc(),
             F.col("__side").asc()]
    w = (Window.partitionBy(*on).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = u.select(
        *on, *left_only, "__side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    return filled.where(F.col("__side") == 1).drop("__side")


def range_join_bucketed(left: DataFrame, right: DataFrame, key: str,
                        left_ts: str, right_ts: str,
                        lower_ms: int, upper_ms: int,
                        bucket_ms: int | None = None) -> DataFrame:
    """Bounded-window range join for scale: both sides get a time-bucket
    column sized to the window, the right side is exploded to the buckets
    it can match, and the join becomes equi-(key, bucket) + residual range
    filter. Shuffle volume grows by ceil(window/bucket)+1 ((2-3)x), but the
    per-key cross product is bounded — the property that survives 100 TB.
    """
    if bucket_ms is None:
        bucket_ms = max(upper_ms - lower_ms, 1)
    lb = left.withColumn("__b", (F.unix_millis(F.col(left_ts)) / bucket_ms).cast("long"))
    span = (upper_ms - lower_ms) // bucket_ms + 1
    rb = right.withColumn(
        "__bs",
        F.sequence(((F.unix_millis(F.col(right_ts)) - upper_ms) / bucket_ms).cast("long"),
                   ((F.unix_millis(F.col(right_ts)) - lower_ms) / bucket_ms).cast("long")),
    ).withColumn("__b", F.explode("__bs")).drop("__bs")
    cond = (
        (lb[key] == rb[key]) & (lb["__b"] == rb["__b"])
        & (F.unix_millis(rb[right_ts]) >= F.unix_millis(lb[left_ts]) + lower_ms)
        & (F.unix_millis(rb[right_ts]) <= F.unix_millis(lb[left_ts]) + upper_ms)
    )
    return lb.join(rb, cond, "inner")


def sessionize(df: DataFrame, key: str, ts: str = "ts",
               gap: str = "30 minutes") -> DataFrame:
    """Assign session ids per key with an inactivity-gap rule: a new
    session starts when the gap to the previous event exceeds ``gap``.
    One shuffle on the key; returns the input plus ``session_id`` (1-based
    per key) — the batch formulation of streaming session windows.
    """
    gap_expr = F.expr(f"INTERVAL {gap}")
    w = Window.partitionBy(key).orderBy(ts)
    prev = F.lag(F.col(ts)).over(w)
    new_sess = (prev.isNull() | (F.col(ts) > prev + gap_expr)).cast("int")
    return (df.withColumn("__new", new_sess)
              .withColumn("session_id",
                          F.sum("__new").over(
                              w.rowsBetween(Window.unboundedPreceding, 0)))
              .drop("__new"))


def salted_count_distinct(df: DataFrame, key: str, value: str,
                          buckets: int = 32,
                          out_col: str = "n_distinct") -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, skew-proof.

    A plain count-distinct shuffles every (key, value) row of a hot key
    into ONE reducer partition. Salting by ``hash(value) % buckets``
    splits each key's values across ``buckets`` partitions; distinct
    values land in exactly one bucket, so summing per-bucket distinct
    counts is exact. Two bounded shuffles replace one unbounded hot one —
    the property that survives a key holding 10% of 100 TB. (For merely
    *large* but unskewed keys, Spark's partial aggregation is already
    enough; use this when one key dominates.)
    """
    salted = df.select(
        F.col(key), F.col(value),
        F.pmod(F.xxhash64(F.col(value)), F.lit(buckets)).alias("__salt"))
    per_bucket = (salted.groupBy(key, "__salt")
                  .agg(F.countDistinct(value).alias("__c")))
    return (per_bucket.groupBy(key)
            .agg(F.sum("__c").cast("long").alias(out_col)))


def top_k_per_group(df: DataFrame, group_cols: list[str],
                    order_by: list[Column], k: int,
                    rank_col: str = "rn") -> DataFrame:
    """k best rows per group via row_number; single shuffle on the group
    key, partial top-k pushed map-side by the window's sort."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .where(F.col(rank_col) <= k))


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """CDC between two table snapshots: classify every key as
    ``insert`` (new only), ``delete`` (old only), ``update`` (present in
    both, any compared column differs, null-safe) or ``unchanged``.

    One full-outer equi-join on the key — the minimal work any diff
    needs. At lake scale both snapshots live bucketed on the key
    (sources/bucketed.py), which makes this join co-located and
    shuffle-free; value comparison is a null-safe column conjunction in
    codegen, no hashing round-trip through strings. Output carries the
    key plus each compared column's old/new pair.
    """
    compare_cols = compare_cols or [
        c for c in old.columns if c not in keys and c in new.columns]
    o = old.select(*keys, F.lit(True).alias("__old_present"),
                   *[F.col(c).alias(f"__old_{c}") for c in compare_cols])
    n = new.select(*keys, F.lit(True).alias("__new_present"),
                   *[F.col(c).alias(f"__new_{c}") for c in compare_cols])
    j = o.join(n, keys, "full_outer")
    # explicit presence markers: a present row with all-null compared
    # values must not read as absent
    old_present = F.col("__old_present").isNotNull()
    new_present = F.col("__new_present").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    change = (F.when(~old_present, F.lit("insert"))
               .when(~new_present, F.lit("delete"))
               .when(same, F.lit("unchanged"))
               .otherwise(F.lit("update")))
    out_cols = [*keys, change.alias("change_type")]
    for c in compare_cols:
        out_cols += [F.col(f"__old_{c}").alias(f"old_{c}"),
                     F.col(f"__new_{c}").alias(f"new_{c}")]
    return j.select(*out_cols)


def merge_upsert(target: DataFrame, source: DataFrame,
                 keys: list[str]) -> DataFrame:
    """ANSI MERGE semantics (WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED
    THEN INSERT) as a pure DataFrame composition — the maintenance
    primitive behind every warehouse refresh stream (TPC-H RF1-style
    batches), for plain parquet tables without a transaction layer.

    Shape: ONE left join of target onto the source (matched rows take
    every source column via coalesce-by-presence) unioned with the
    source's anti-join residue (the inserts). Both arms shuffle on the
    same key, so at lake scale — both sides bucketed on the key — the
    merge is co-located and shuffle-free. Duplicate source keys are a
    MERGE cardinality violation; callers dedupe upstream (Kusto/ANSI
    raise — enforcing it here would cost a count per key).
    """
    cols = target.columns
    src = source.select(*keys, F.lit(True).alias("__src_present"),
                        *[F.col(c).alias(f"__src_{c}")
                          for c in cols if c not in keys])
    updated = (target.join(src, keys, "left")
               .select(*keys,
                       *[F.when(F.col("__src_present").isNotNull(),
                                F.col(f"__src_{c}")).otherwise(F.col(c))
                          .alias(c)
                         for c in cols if c not in keys]))
    inserts = (source.join(target.select(*keys), keys, "left_anti")
                     .select(*cols))
    return updated.unionByName(inserts)


def scd2_apply(dim: DataFrame, updates: DataFrame, keys: list[str],
               tracked: list[str], valid_from: str = "valid_from",
               valid_to: str = "valid_to",
               batch_date: str = "9999-01-01") -> DataFrame:
    """Slowly-changing-dimension type 2: apply an update batch to the
    CURRENT dimension rows, closing changed rows (their ``valid_to``
    becomes the batch date) and opening a new version per changed or
    brand-new key. Unchanged rows pass through open. ``dim`` is the
    current (open) snapshot: ``valid_from`` per row, ``valid_to`` null.

    One left join on the key classifies every dimension row
    (unchanged / changed, null-safe on the tracked columns) and a
    second anti-join finds brand-new keys; the new-version rows are
    projected straight from the batch. Three narrow arms over two
    key-partitioned joins — bucketed storage makes both co-located.
    """
    upd = updates.select(
        *keys, F.lit(True).alias("__u_present"),
        *[F.col(c).alias(f"__u_{c}") for c in tracked])
    j = dim.join(upd, keys, "left")
    same = F.lit(True)
    for c in tracked:
        same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    matched = F.col("__u_present").isNotNull()
    # current rows: closed when the batch changes them, open otherwise
    current = j.select(
        *dim.columns,
        F.when(matched & ~same, F.lit(batch_date))
         .otherwise(F.col(valid_to)).alias("__vt")) \
        .drop(valid_to).withColumnRenamed("__vt", valid_to)
    # new versions: one per changed key (tracked cols from the batch)
    changed = (j.where(matched & ~same)
                .select(*keys,
                        *[F.col(f"__u_{c}").alias(c) for c in tracked],
                        F.lit(batch_date).alias(valid_from),
                        F.lit(None).cast("string").alias(valid_to)))
    # brand-new keys open their first version
    first = (updates.join(dim.select(*keys), keys, "left_anti")
             .select(*keys, *tracked,
                     F.lit(batch_date).alias(valid_from),
                     F.lit(None).cast("string").alias(valid_to)))
    keep = [*keys, *tracked, valid_from, valid_to]
    return (current.select(*keep)
            .unionByName(changed.select(*keep))
            .unionByName(first.select(*keep)))

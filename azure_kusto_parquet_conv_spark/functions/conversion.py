"""Kusto conversion semantics as pure ``Column -> Column`` builders.

Each builder reproduces one behavior of the reference converter
(pq2json/src/converter.rs, see SURVEY.md §1.2) as a Catalyst expression:
whole-stage-codegen'd JVM code, no Python in the row path. That is the
fundamental architectural shift from the reference's row-at-a-time
``element_to_value!`` dispatch (converter.rs:95-126): the same semantics,
but vectorized and distributed.

All builders accept a Column or a column name.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from azure_kusto_parquet_conv_spark.settings import (
    I64_MAX,
    TICKS_AT_UNIX_EPOCH,
    TICKS_PER_MS,
    TimestampRendering,
    U64_WRAP,
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --------------------------------------------------------------------------
# Timestamps (converter.rs:305-332; mode selection main.rs:60-73,129-134)
# --------------------------------------------------------------------------

def truncate_to_millis(c: Column | str) -> Column:
    """Truncate a timestamp to millisecond precision.

    The reference truncates micro timestamps to ms before any rendering
    (``get_timestamp_micros() / 1000``, converter.rs:117-120).
    """
    return F.timestamp_millis(F.unix_millis(_col(c)))


def unix_ms(c: Column | str) -> Column:
    """UnixMillis rendering: raw ms since epoch (converter.rs:330)."""
    return F.unix_millis(_col(c))


def ticks(c: Column | str) -> Column:
    """TicksOffset rendering: 100 ns ticks since 0001-01-01.

    ``ms * 10_000 + 621_355_968_000_000_000`` with checked overflow -> null
    (converter.rs:305-317). The overflow guard is expressed as a bound on ms
    so the arithmetic itself can never overflow (ANSI-mode safe).
    """
    ms = F.unix_millis(_col(c))
    max_ms = (I64_MAX - TICKS_AT_UNIX_EPOCH) // TICKS_PER_MS
    min_ms = -(TICKS_AT_UNIX_EPOCH // TICKS_PER_MS)
    in_range = (ms <= F.lit(max_ms)) & (ms >= F.lit(min_ms))
    return F.when(in_range, ms * TICKS_PER_MS + TICKS_AT_UNIX_EPOCH)


def iso_string(c: Column | str, truncate_ms: bool = True) -> Column:
    """IsoStr rendering: ``yyyy-MM-ddTHH:mm:ss.ffffffZ`` — 6 fractional
    digits, UTC ``Z`` suffix (converter.rs:318-329).

    ``truncate_ms=True`` matches the reference pipeline, where micro/nano
    precision is truncated to ms before rendering (converter.rs:117-120), so
    the last three digits are always zero there.
    """
    col = truncate_to_millis(c) if truncate_ms else _col(c)
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")


def render_timestamp(c: Column | str, mode: TimestampRendering) -> Column:
    if mode == TimestampRendering.TICKS:
        return ticks(c)
    if mode == TimestampRendering.UNIX_MS:
        return unix_ms(c)
    return iso_string(c)


def nanos_long_to_timestamp(c: Column | str) -> Column:
    """int64 nanoseconds -> TimestampType (µs precision).

    Spark's Parquet reader rejects TIMESTAMP(NANOS) columns; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as raw int64 which
    this converts. Exact integer arithmetic: subtracting ``pmod(ns, 1000)``
    first makes the numerator an exact multiple, so the division cannot
    round — a plain ``ns / 1000`` goes through double, whose ~128 ns
    spacing near 1.7e18 shifts values by ±1 µs. Floor semantics (pre-1970
    values round down, vs the reference's integer ``/ 1000`` truncation
    toward zero — identical for post-1970 data).
    """
    ns = _col(c)
    exact = (ns - F.pmod(ns, F.lit(1000))).cast(T.DecimalType(25, 0))
    return F.timestamp_micros((exact / F.lit(1000)).cast("long"))


# --------------------------------------------------------------------------
# Dates (converter.rs:334-343)
# --------------------------------------------------------------------------

def date_string(c: Column | str) -> Column:
    """Date32 -> ``yyyy-MM-dd`` string; unrepresentable -> null
    (converter.rs:334-343). Spark's DateType range is a superset of
    chrono's checked range, so the overflow branch cannot trigger here;
    nulls propagate naturally."""
    return F.date_format(_col(c), "yyyy-MM-dd")


# --------------------------------------------------------------------------
# Floats (converter.rs:291-295 null-ing; 196-212 CSV text)
# --------------------------------------------------------------------------

def nan_inf_to_null(c: Column | str) -> Column:
    """NaN / +Inf / -Inf render as null (converter.rs:291-295)."""
    col = _col(c)
    bad = F.isnan(col) | (col == float("inf")) | (col == float("-inf"))
    return F.when(~bad, col)


def real_text(c: Column | str) -> Column:
    """Float -> shortest text: trailing zeros then a trailing dot stripped,
    so ``1.50 -> 1.5`` and ``2.0 -> 2`` (ryu + truncate_trailing_zeros,
    converter.rs:196-197,210-212). NaN/Inf -> null first (:291-295).

    Scientific-notation outputs (very large/small magnitudes) pass through
    unmodified, matching ryu's shortest-representation behavior.
    """
    s = nan_inf_to_null(c).cast("string")
    # Spark's double->string (Java Double.toString) is already the
    # shortest round-trip form, so the only trailing-zero case it emits
    # is the integral "X.0" — a cheap endswith branch, not a regex (the
    # lazy-quantifier regex cost ~2x on a 600k-row CSV render).
    # Scientific-notation outputs pass through, matching ryu's behavior.
    return F.when(s.endswith(".0") & ~s.contains("E"),
                  s.substr(F.lit(1), F.length(s) - 2)).otherwise(s)


# --------------------------------------------------------------------------
# Integers (converter.rs:297-303)
# --------------------------------------------------------------------------

def uint64_to_long(c: Column | str, convert_types: bool = True) -> Column:
    """Parquet UINT64 arrives in Spark as DecimalType(20,0). With
    ``convert_types`` (the mode Kusto ingestion actually uses) values above
    i64::MAX are reinterpreted as negative two's-complement int64, matching
    the reference's bit-cast (converter.rs:297-303). Without it the decimal
    is preserved (Spark cannot hold a u64 natively — documented deviation,
    SURVEY.md §7.3)."""
    col = _col(c)
    if not convert_types:
        return col
    wide = col.cast(T.DecimalType(21, 0))
    return F.when(
        col > F.lit(I64_MAX).cast(T.DecimalType(21, 0)),
        (wide - F.lit(str(U64_WRAP)).cast(T.DecimalType(21, 0))).cast("long"),
    ).otherwise(col.cast("long"))


# --------------------------------------------------------------------------
# Binary (converter.rs:283-289)
# --------------------------------------------------------------------------

def bytes_to_int_array(c: Column | str) -> Column:
    """Binary -> JSON array of byte numbers, e.g. ``b"hi" -> [104,105]``
    (converter.rs:283-289) — NOT base64. Pure JVM expression: hex-encode
    then decode two chars per byte; null-safe; empty binary -> []."""
    col = _col(c)
    hexed = F.hex(col)
    decoded = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.conv(F.substring(hexed, (i - 1) * 2 + 1, 2), 16, 10).cast("int"),
    )
    # sequence(1, 0) would count DOWN; empty binary needs an explicit [].
    return F.when(F.length(col) == 0, F.array().cast("array<int>")) \
            .otherwise(decoded)


# --------------------------------------------------------------------------
# Decimals (converter.rs:110, 345-371)
# --------------------------------------------------------------------------

def decimal_string(c: Column | str) -> Column:
    """Decimal -> plain-notation string, never scientific, sign preserved,
    zero-padded below the point (``0.00123``, ``-0.5``; converter.rs:345-371).
    Spark's DecimalType -> string cast is already plain-notation with the
    declared scale, so this is a direct cast."""
    return _col(c).cast("string")


# --------------------------------------------------------------------------
# Nested types (converter.rs:214-281) and whole-row rendering
# --------------------------------------------------------------------------

def kusto_rendered_column(c: Column, dtype: T.DataType, *,
                          timestamp: TimestampRendering = TimestampRendering.ISO_STR,
                          convert_types: bool = False) -> Column:
    """Map one column to its Kusto-rendered form per the reference's
    ``element_to_value!`` dispatch (converter.rs:95-126):

    - timestamp -> selected rendering (ticks/isostr/unixms), ms-truncated
    - date      -> yyyy-MM-dd string
    - float     -> NaN/Inf nulled (numeric value otherwise untouched)
    - binary    -> array<int> of byte values
    - decimal(20,0) (parquet uint64) -> int64 under convert_types
    - other decimals -> plain string
    - struct/array/map pass through (sink decides JSON rendering)
    """
    if isinstance(dtype, T.TimestampType):
        return render_timestamp(c, timestamp)
    if isinstance(dtype, T.DateType):
        return date_string(c)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return nan_inf_to_null(c)
    if isinstance(dtype, T.BinaryType):
        return bytes_to_int_array(c)
    if isinstance(dtype, T.DecimalType):
        if dtype.precision == 20 and dtype.scale == 0 and convert_types:
            return uint64_to_long(c, convert_types=True)
        if dtype.precision == 20 and dtype.scale == 0:
            return c
        return decimal_string(c)
    return c

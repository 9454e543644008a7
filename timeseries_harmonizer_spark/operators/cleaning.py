"""Cleaning operators (SURVEY.md §2.6, reference lib2/clean_outliers.py).

Everything with closed-form semantics is a native Column/Window expression
(whole-stage codegen, no Python). Only the iterative, data-dependent
cleaners (C2 znorm, C8/C9 composites) drop to Arrow-batched
``applyInPandas`` over (series, session) groups, replaying the pandas
kernels in ``functions/series_kernels.py``.

All operators are column-name parameterized so the same code serves the
web_pages engine (url/warc_ts/value) and the generic time-series surface
(events: user_id/ts/value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from timeseries_harmonizer_spark.functions import series_kernels as K

MODBUS_SENTINEL = 2147483648.0  # reference launcher.py:14, modbus.py:31-32
NIGHT_SENTINEL = K.NIGHT_SENTINEL


# ---------------------------------------------------------------------------
# Scalar projections (P*)
# ---------------------------------------------------------------------------

def unit_convert(
    df: DataFrame,
    value: str = "value",
    raw_ratio: str = "raw_conv_ratio",
    raw_offset: str = "raw_conv_offset",
    harm_ratio: str = "harm_conv_ratio",
    harm_offset: str = "harm_conv_offset",
    out: str | None = None,
) -> DataFrame:
    """P1: value * raw_ratio / harm_ratio + (raw_offset - harm_offset) with
    NaN/NULL-safe defaults ratio->1, offset->0 (reference
    lib2/__init__.py:45-51; also treats 0-ratios as 1, matching the
    reference's falsy check)."""
    def ratio(c):
        col = F.col(c).cast("double")
        return F.when(col.isNull() | F.isnan(col) | (col == 0), F.lit(1.0)).otherwise(col)

    def offset(c):
        col = F.col(c).cast("double")
        return F.when(col.isNull() | F.isnan(col) | (col == 0), F.lit(0.0)).otherwise(col)

    expr = F.col(value) * ratio(raw_ratio) / ratio(harm_ratio) + (
        offset(raw_offset) - offset(harm_offset)
    )
    return df.withColumn(out or value, expr)


def sentinel_to_null(
    df: DataFrame, value: str = "value", sentinel: float = MODBUS_SENTINEL
) -> DataFrame:
    """P3: +/- 2^31 sentinel -> NULL (reference modbus.py:31-32)."""
    return df.withColumn(
        value, F.when(F.abs(F.col(value)) == F.lit(sentinel), None).otherwise(F.col(value))
    )


def clip_at_zero(df: DataFrame, value: str = "value") -> DataFrame:
    """P14: negative -> 0 (reference launcher.py:292,308,...)."""
    return df.withColumn(value, F.greatest(F.col(value), F.lit(0.0)))


# ---------------------------------------------------------------------------
# Window-expression cleaners (pure Catalyst, one shuffle on the series key)
# ---------------------------------------------------------------------------

def _series_window(key, ts_col):
    keys = [key] if isinstance(key, str) else list(key)
    return W.partitionBy(*keys).orderBy(ts_col)


def drop_negative_diffs(
    df: DataFrame, key="url", ts_col: str = "warc_ts", value: str = "value"
) -> DataFrame:
    """C11: drop rows whose value decreased vs the previous row
    (reference lib2/__init__.py:28-29). NULL diff (first row) is kept."""
    w = _series_window(key, ts_col)
    diff = F.col(value) - F.lag(value).over(w)
    return (
        df.withColumn("__neg", diff < 0)
        .where(~F.coalesce(F.col("__neg"), F.lit(False)))
        .drop("__neg")
    )


def max_power_clean(
    df: DataFrame,
    key="url",
    ts_col: str = "warc_ts",
    value: str = "value",
    max_power=None,
    accumulated: bool = False,
) -> DataFrame:
    """C4: NULL the value where the increment (accumulated) or the value
    itself exceeds max_power scaled to the row's time delta
    (reference lib2/clean_outliers.py:53-65). First row (NULL delta) is
    NULL'd, matching the reference's NaN-comparison behavior."""
    mp = F.col(max_power) if isinstance(max_power, str) else F.lit(
        max_power if max_power is not None else K.MAX_POWER_DEFAULT
    )
    w = _series_window(key, ts_col)
    diff_v = (F.col(value) - F.lag(value).over(w)) if accumulated else F.col(value)
    diff_t = F.unix_timestamp(F.col(ts_col)) - F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
    threshold = mp * diff_t / F.lit(3600.0)
    keep = diff_v < threshold  # NULL-safe: NULL < x -> NULL -> otherwise branch
    return df.withColumn(value, F.when(keep, F.col(value)).otherwise(F.lit(None)))


def incremental_only_clean(
    df: DataFrame, key="url", ts_col: str = "warc_ts", value: str = "value"
) -> DataFrame:
    """C5: keep rows where value >= running max; NULL values are kept
    (reference lib2/clean_outliers.py:68-73)."""
    w = _series_window(key, ts_col).rowsBetween(W.unboundedPreceding, 0)
    cummax = F.max(value).over(w)
    return (
        df.withColumn("__err", F.coalesce(F.col(value) < cummax, F.lit(False)))
        .where(~F.col("__err"))
        .drop("__err")
    )


def night_consumption_clean(
    df: DataFrame,
    key="url",
    ts_col: str = "warc_ts",
    value: str = "value",
    accumulated: bool = False,
) -> DataFrame:
    """C6: night-refill handling (reference lib2/clean_outliers.py:87-101).

    instantaneous: night (hour in [23,24) U [0,6)) values -> 0.
    accumulated: night rows carrying a real value are LOCF-filled from the
    previous row; pre-existing NULLs propagate via the reference's -100
    sentinel (a night row after a NULL run becomes NULL)."""
    night = (F.hour(ts_col) >= 23) | (F.hour(ts_col) < 6)
    if not accumulated:
        return df.withColumn(
            value, F.when(night, F.lit(0.0)).otherwise(F.col(value))
        )
    w = _series_window(key, ts_col)
    rn = F.row_number().over(w)
    base = F.coalesce(F.col(value), F.lit(NIGHT_SENTINEL))
    to_fill = night & (base != F.lit(NIGHT_SENTINEL)) & (rn != 1)
    cleaned = F.when(to_fill, F.lit(None)).otherwise(base)
    df = df.withColumn("__cleaned", cleaned)
    filled = F.last("__cleaned", ignorenulls=True).over(
        _series_window(key, ts_col).rowsBetween(W.unboundedPreceding, 0)
    )
    return df.withColumn(
        value, F.when(filled == F.lit(NIGHT_SENTINEL), F.lit(None)).otherwise(filled)
    ).drop("__cleaned")


def percentile_clean(
    df: DataFrame, key="url", value: str = "value"
) -> DataFrame:
    """C1: two-pass percentile bounds per series — exact `percentile`
    aggregate (linear interpolation, matching numpy.nanpercentile), then
    NULL outside [p10 - 1.5*IQR, p90 + 1.5*IQR] with IQR floored at 1
    (reference lib2/clean_outliers.py:76-84). Bounds side is tiny (one row
    per series) -> broadcast back."""
    keys = [key] if isinstance(key, str) else list(key)
    bounds = df.groupBy(*keys).agg(
        F.percentile(value, F.lit(0.1)).alias("__q1"),
        F.percentile(value, F.lit(0.9)).alias("__q3"),
    )
    bounds = bounds.withColumn("__iqr", F.greatest(F.col("__q3") - F.col("__q1"), F.lit(1.0)))
    bounds = bounds.select(
        *keys,
        (F.col("__q1") - 1.5 * F.col("__iqr")).alias("__lo"),
        (F.col("__q3") + 1.5 * F.col("__iqr")).alias("__hi"),
    )
    out = df.join(F.broadcast(bounds), keys, "left")
    return out.withColumn(
        value,
        F.when(
            (F.col(value) >= F.col("__lo")) & (F.col(value) <= F.col("__hi")),
            F.col(value),
        ).otherwise(F.lit(None)),
    ).drop("__lo", "__hi")


def detect_reset_sessions(
    df: DataFrame,
    key="url",
    ts_col: str = "warc_ts",
    value: str = "value",
    max_power=None,
    out_col: str = "reset_id",
) -> DataFrame:
    """C7: segment the series at counter resets — a negative diff while the
    value is below the max-power threshold (reference
    lib2/clean_outliers.py:44-50) — via lag + cumulative sum."""
    mp = F.col(max_power) if isinstance(max_power, str) else F.lit(
        max_power if max_power is not None else K.MAX_POWER_DEFAULT
    )
    w = _series_window(key, ts_col)
    diff_v = F.col(value) - F.lag(value).over(w)
    diff_t = F.unix_timestamp(F.col(ts_col)) - F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
    threshold = mp * diff_t / F.lit(3600.0)
    is_reset = F.coalesce((diff_v < 0) & (F.col(value) < threshold), F.lit(False))
    return df.withColumn(
        out_col,
        F.sum(is_reset.cast("int")).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )


# ---------------------------------------------------------------------------
# Iterative cleaners — Arrow-batched per-series replay
# ---------------------------------------------------------------------------

def znorm_clean(
    df: DataFrame, key="url", ts_col: str = "warc_ts", value: str = "value"
) -> DataFrame:
    """C2: iterative trailing-z-score clean — inherently sequential, so it
    runs as applyInPandas per series (reference lib2/clean_outliers.py:108-127)."""
    keys = [key] if isinstance(key, str) else list(key)
    schema = df.select(*keys, ts_col, value).schema

    def fn(pdf):
        pdf = pdf.sort_values(ts_col)
        s = pdf.set_index(ts_col)[value]
        out = K.znorm_clean(s)
        res = out.reset_index()
        res.columns = [ts_col, value]
        for k in keys:
            res[k] = pdf[k].iloc[0]
        return res[[*keys, ts_col, value]]

    return df.select(*keys, ts_col, value).groupBy(*keys).applyInPandas(fn, schema)


def composite_clean(
    df: DataFrame,
    kind: str,  # "instant" (C8) | "modbus" (C9)
    key="url",
    ts_col: str = "warc_ts",
    value: str = "value",
    property_col: str = "property",
    max_power_col: str = "max_power",
    agg_func_col: str = "agg_func",
) -> DataFrame:
    """C8/C9 composite cleaners as per-series Arrow replay (the cumsum
    rebuild in C9 and the bootstrap in C2 are order-dependent)."""
    keys = [key] if isinstance(key, str) else list(key)
    kernel = (
        K.clean_instant_energy_data if kind == "instant" else K.clean_modbus_energy_data
    )
    schema = df.select(*keys, ts_col, value).schema

    def fn(pdf):
        pdf = pdf.sort_values(ts_col)
        s = pdf.set_index(ts_col)[value]
        prop = pdf[property_col].iloc[0]
        mp = pdf[max_power_col].iloc[0]
        agg = pdf[agg_func_col].iloc[0]
        out = kernel(s, prop, mp, agg)
        res = out.reset_index()
        res.columns = [ts_col, value]
        for k in keys:
            res[k] = pdf[k].iloc[0]
        return res[[*keys, ts_col, value]]

    cols = [*keys, ts_col, value, property_col, max_power_col, agg_func_col]
    return df.select(*cols).groupBy(*keys).applyInPandas(fn, schema)

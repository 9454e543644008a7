"""Rollup / resample operators — R1-R10 (SURVEY.md §2.5).

``rollup_native`` is the one implementation of the reference's
``harmonize_irregular_data`` (reference lib2/__init__.py:26-42) for
fixed-width tiers: SUM, AVG and LAST in one closed-form, pure-DataFrame
pass. Key observation: after placing each point at ``floor(ts, 1s)`` and
linearly interpolating, the per-second increment is *constant within each
inter-point segment* (slope = dv/ds). So the tier-window sum/count/mean are
exact segment-overlap arithmetic — no 1s grid is ever materialized. Each
segment explodes into only the tier windows it overlaps (len/F + 1 rows);
LAST's per-window last knot explodes into the windows it carries forward
(LOCF); a single groupBy(key, window) merges. Mathematically identical to
the pandas 1s-grid replay (``series_kernels.harmonize``); floating-point
addition order differs, so values agree up to float rounding.

Also here: R6 downsample (tier -> coarser tier), R7 upsample (ffill +
sum-splitting), R8 dense reindex, and the north-star continuous aggregates
(crawl count, text-length min/max/avg/sum, lang distribution) for web_pages.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F


def _window_col(ts_seconds_or_col, freq: int | str, is_ts: bool = False):
    """Tumbling-window label for fixed (floor(ts/s)*s, long seconds) or
    calendar ('P1W'/'P1M' -> date_trunc, timestamp) frequencies. Calendar
    floors match the reference's isodate_floor
    (reference lib2/calculate_formulas.py:11-17)."""
    if freq == "P1M":
        c = ts_seconds_or_col if is_ts else F.timestamp_seconds(ts_seconds_or_col)
        return F.date_trunc("month", c)
    if freq == "P1W":
        c = ts_seconds_or_col if is_ts else F.timestamp_seconds(ts_seconds_or_col)
        return F.date_trunc("week", c)
    s = int(freq)
    sec = F.unix_timestamp(ts_seconds_or_col) if is_ts else ts_seconds_or_col
    return F.floor(sec / s) * s


# ---------------------------------------------------------------------------
# Native closed form
# ---------------------------------------------------------------------------

def _knots(df, key, ts_col, value, session_col):
    """Collapse to 1s-floored knots (mean on collisions) and attach the next
    knot per series — the segment endpoints of the interpolated grid."""
    group = [F.col(key).alias("__k")] + (
        [F.col(session_col).alias("__sess")] if session_col else [F.lit(0).alias("__sess")]
    )
    pts = (
        df.where(F.col(value).isNotNull())
        .select(*group, F.unix_timestamp(F.col(ts_col)).alias("__s"), F.col(value).alias("__v"))
        .groupBy("__k", "__sess", "__s")
        .agg(F.avg("__v").alias("__v"))
    )
    w = W.partitionBy("__k", "__sess").orderBy("__s")
    return pts.select(
        "__k",
        "__sess",
        "__s",
        "__v",
        F.lead("__s").over(w).alias("__s2"),
        F.lead("__v").over(w).alias("__v2"),
    )


def rollup_native(
    df: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    value: str = "value",
    agg_col: str = "agg_func",
    freq_seconds: int = 3600,
    session_col: str | None = "session_id",
    chunk_windows: int = 50_000,
) -> DataFrame:
    """R1/R2/R3 closed form: SUM, AVG and LAST in one pass over a frame
    whose aggregation function is declared per series (``agg_col``,
    constant per key — the registry contract). Output: (key, start, value,
    is_real); null values are dropped first.

    One knots aggregate per (series, session, second) keeps the mean of
    colliding raw rows (the replay's 1s resample) and, for LAST, the later
    row (``max_by``). One ``lead`` window attaches the next knot. Each kept
    knot then covers an inclusive second range and explodes into the tier
    windows it overlaps; one merge aggregate per (series, window) emits
    windows whose count reaches ``freq_seconds``:

    * SUM: segment (s1, v1)->(s2, v2) covers seconds (s1, s2], each carrying
      the increment (v2-v1)/(s2-s1); negative-slope segments are removed
      (the reference keeps only diffs >= 0), making their windows
      incomplete. Rows whose raw diff is negative are dropped before the
      knots (R1 step 1).
    * AVG: grid seconds [s1, s2-1] carry v1 + slope*(s-s1), the terminal
      knot [s1, s1]; window value = sum / count.
    * LAST: only the last knot of each tier window is kept. It claims every
      window up to (exclusive) the next observed one, or just its own at the
      end of the session — LOCF that never bridges a session gap, matching
      the reference's per-part harmonization (reference
      harmonizers/__init__.py:379-383). Each claimed window counts as
      complete; ``is_real`` is true only for the knot's own window (the
      reference's isReal flag, lib/__init__.py:157-166) and for every
      SUM/AVG window.

    Volume bound: a segment or claim that spans a long gap (tiers with
    ``gap_check=None`` have unbounded sessions) explodes in two levels — the
    outer sequence steps in spans of ``chunk_windows`` windows, the inner in
    windows — so no generator batch exceeds ``chunk_windows`` rows (~35
    days at 1m, ~5.7 years at 1h).

    Hot series: one url costs one task. Prepare's url exchange already puts
    all of a url's rows in one task, and no Python worker ever holds a
    series: its raw rows pass the negative-diff ``lag`` window, its knots
    (at most one per second) the ``lead`` window. Both windows' buffers
    spill to disk past ``spark.sql.windowExec.buffer.spill.threshold`` rows,
    and each explode batch is at most ``chunk_windows`` rows (pinned with a
    1,024-row spill threshold by tests/test_rollup_chunked.py).

    Precondition: ``session_col`` splits a series only at gaps of at least
    ``freq_seconds`` (``gap_seconds is None or gap_seconds >= seconds``,
    enforced by ``TierConfig``). The merge groups across sessions, so two
    sessions sharing a tier window would merge into it."""
    Fs = freq_seconds
    span_s = int(chunk_windows) * Fs  # explode-batch bound, in seconds
    sess = F.col(session_col) if session_col else F.lit(0)
    # R1 step 1, SUM rows only; series are homogeneous in agg_col
    keys = [key] + ([session_col] if session_col else [])
    diff = F.col(value) - F.lag(value).over(W.partitionBy(*keys).orderBy(ts_col))
    df = (
        df.where(F.col(value).isNotNull())
        .withColumn(
            "__negdrop",
            (F.col(agg_col) == "SUM") & F.coalesce(diff < 0, F.lit(False)),
        )
        .where(~F.col("__negdrop"))
    )
    pts = (
        df.select(
            F.col(key).alias("__k"),
            sess.alias("__sess"),
            F.col(agg_col).alias("__agg"),
            F.unix_timestamp(F.col(ts_col)).alias("__s"),
            F.col(ts_col).alias("__ts"),
            F.col(value).alias("__v"),
        )
        .groupBy("__k", "__sess", "__agg", "__s")
        .agg(F.avg("__v").alias("__v"), F.max_by("__v", "__ts").alias("__last"))
    )
    wl = W.partitionBy("__k", "__sess").orderBy("__s")
    knots = pts.select(
        "__k", "__agg", "__s", "__v", "__last",
        F.lead("__s").over(wl).alias("__s2"),
        F.lead("__v").over(wl).alias("__v2"),
    )
    is_sum = F.col("__agg") == "SUM"
    is_last = F.col("__agg") == "LAST"
    slope = F.when(
        F.col("__s2").isNotNull(),
        (F.col("__v2") - F.col("__v")) / (F.col("__s2") - F.col("__s")),
    ).otherwise(F.lit(0.0))
    next_w = F.floor(F.col("__s2") / Fs) * Fs
    keep = (
        F.when(is_sum, F.col("__s2").isNotNull() & (slope >= 0))
        .when(is_last, F.coalesce(next_w != F.floor(F.col("__s") / Fs) * Fs, F.lit(True)))
        .otherwise(F.lit(True))
    )
    # inclusive second range: SUM (s1, s2]; AVG [s1, s2-1]; LAST [s1,
    # next observed window - 1]; a terminal knot [s1, s1]
    a = F.when(is_sum, F.col("__s") + 1).otherwise(F.col("__s"))
    b = F.when(F.col("__s2").isNull(), F.col("__s")).when(is_sum, F.col("__s2")).when(
        is_last, next_w - 1
    ).otherwise(F.col("__s2") - 1)
    win0 = F.floor(a / Fs) * Fs
    win1 = F.floor(b / Fs) * Fs
    seg = knots.where(keep).select(
        "__k", "__agg", "__last",
        F.col("__s").alias("__s1"),
        F.col("__v").alias("__v1"),
        slope.alias("__slope"),
        a.alias("__a"),
        b.alias("__b"),
        win0.alias("__w0"),
        win1.alias("__w1"),
    )
    sub = seg.withColumn("__sub", F.explode(F.sequence("__w0", "__w1", F.lit(span_s))))
    sub_end = F.least(F.col("__w1"), F.col("__sub") + F.lit(span_s - Fs))
    seg = sub.withColumn("__w", F.explode(F.sequence("__sub", sub_end, F.lit(Fs))))
    lo = F.greatest(F.col("__a"), F.col("__w"))
    hi = F.least(F.col("__b"), F.col("__w") + Fs - 1)
    n = F.when(is_last, F.lit(Fs)).otherwise(hi - lo + 1)
    # sum_{s=lo..hi} v1 + slope*(s - s1)  =  n*v1 + slope*(n*(lo+hi)/2 - n*s1)
    mid = (lo + hi).cast("double") / 2.0
    contrib = (
        F.when(is_sum, n * F.col("__slope"))
        .when(is_last, F.col("__last"))
        .otherwise(
            n.cast("double")
            * (F.col("__v1") + F.col("__slope") * (mid - F.col("__s1")))
        )
    )
    real = ~is_last | (F.col("__w") == F.col("__w0"))  # LAST: its own window
    return (
        seg.select(
            "__k", "__agg", "__w",
            n.alias("__n"), contrib.alias("__c"), real.alias("__real"),
        )
        .groupBy("__k", "__agg", "__w")
        .agg(
            F.sum("__n").alias("__cnt"),
            F.sum("__c").alias("__sum"),
            F.max("__real").alias("is_real"),
        )
        .where(F.col("__cnt") == Fs)
        .select(
            F.col("__k").alias(key),
            F.timestamp_seconds(F.col("__w")).alias("start"),
            F.when(F.col("__agg") == "AVG", F.col("__sum") / F.col("__cnt"))
            .otherwise(F.col("__sum"))
            .alias(value),
            "is_real",
        )
    )


def rollup_native_twa(
    df: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    value: str = "value",
    freq_seconds: int = 3600,
    session_col: str | None = "session_id",
) -> DataFrame:
    """Time-weighted average — the continuous-integral sibling of R2 (the
    TimescaleDB ``time_weight('linear')`` semantics, public): TWA over a
    tier window = (1/T) * integral of the piecewise-linear v(t) between
    knots, i.e. trapezoid areas over window overlaps, NOT the discrete
    1s-grid mean. Same segment-explode shape as the other native rollups
    (each inter-knot segment lands only in the windows it overlaps; one
    groupBy merges), windows emit iff fully covered."""
    seg0 = _knots(df, key, ts_col, value, session_col).where(
        F.col("__s2").isNotNull()
    )
    Fs = freq_seconds
    slope = (F.col("__v2") - F.col("__v")) / (F.col("__s2") - F.col("__s"))
    win0 = F.floor(F.col("__s") / Fs) * Fs
    win1 = F.floor(F.col("__s2") / Fs) * Fs
    seg = seg0.select(
        "__k",
        F.col("__s").alias("__s1"),
        F.col("__s2").alias("__e"),
        F.col("__v").alias("__v1"),
        slope.alias("__slope"),
        F.explode(F.sequence(win0, win1, F.lit(Fs))).alias("__w"),
    )
    a = F.greatest(F.col("__s1"), F.col("__w"))
    b = F.least(F.col("__e"), F.col("__w") + Fs)
    dur = (b - a).cast("double")
    va = F.col("__v1") + F.col("__slope") * (a - F.col("__s1"))
    vb = F.col("__v1") + F.col("__slope") * (b - F.col("__s1"))
    seg = (
        seg.withColumn("__dur", dur)
        .withColumn("__area", dur * (va + vb) / 2.0)
        .where(F.col("__dur") > 0)
    )
    return (
        seg.groupBy("__k", "__w")
        .agg(F.sum("__dur").alias("__cov"), F.sum("__area").alias("__integ"))
        .where(F.col("__cov") == Fs)
        .select(
            F.col("__k").alias(key),
            F.timestamp_seconds(F.col("__w")).alias("start"),
            (F.floor(F.col("__integ") / F.col("__cov") * 1e6) / 1e6).alias(value),
        )
    )


# ---------------------------------------------------------------------------
# R6/R7 — cross-tier alignment
# ---------------------------------------------------------------------------

def downsample(
    points: DataFrame,
    key: str = "url",
    start_col: str = "start",
    value="value",
    agg: str = "sum",  # sum | avg | last
    from_seconds: int = 60,
    to_seconds: int | str = 3600,
) -> DataFrame:
    """R6: coarsen fine-tier points with the property's aggregation function
    (reference lib2/calculate_formulas.py:179-182). avg is carried as
    sum+count so coarse windows weight fine windows correctly.

    value: a column name, or a sequence of names aggregated in the SAME
    pass (r6 optimization: one scan + one shuffle for several measures of
    the same series, instead of one downsample-plus-join per measure —
    guide §2.3 'aggregate before you shuffle').

    to_seconds: target width in seconds, or 'P1W'/'P1M' for calendar windows
    (date_trunc labels — the reference's '1MS' resample analog,
    lib2/calculate_formulas.py:28-31)."""
    calendar = isinstance(to_seconds, str)
    if not calendar:
        assert to_seconds % from_seconds == 0
    values = [value] if isinstance(value, str) else list(value)
    win = _window_col(F.col(start_col), to_seconds, is_ts=True).alias("__w")
    if agg == "sum":
        aggs = [F.sum(v).alias(v) for v in values]
    elif agg == "avg":
        aggs = [(F.sum(v) / F.count(v)).alias(v) for v in values]
    elif agg == "last":
        aggs = [
            F.expr(f"max_by({v}, __s) FILTER (WHERE {v} IS NOT NULL)").alias(v)
            for v in values
        ]
    else:
        raise ValueError(agg)
    sel = [F.col(key).alias("__k"), win, *values]
    if agg == "last":
        sel.append(F.unix_timestamp(F.col(start_col)).alias("__s"))
    out = points.select(*sel).groupBy("__k", "__w").agg(*aggs)
    start = F.col("__w") if calendar else F.timestamp_seconds(F.col("__w"))
    return out.select(F.col("__k").alias(key), start.alias(start_col), *values)


def upsample(
    points: DataFrame,
    key: str = "url",
    start_col: str = "start",
    value: str = "value",
    agg: str = "sum",
    from_seconds: int = 3600,
    to_seconds: int = 60,
) -> DataFrame:
    """R7: refine coarse points to a finer grid by LOCF with the reference's
    ``resample(freq).ffill()`` semantics (lib2/calculate_formulas.py:183-190):
    each source point claims every fine slot in [its ts, next point's ts) —
    so a MISSING coarse window is filled by the previous point, not left
    empty — and SUM series divide the source value by the ACTUAL number of
    claimed slots (a point followed by a gap spreads thinner, conserving the
    series total). The final point of each series claims one full coarse
    window ([ts, ts+from_seconds)), matching the tier contract that a coarse
    point describes its whole window.

    Plan shape: one hash exchange on the series key (the lead window), then
    a slot explode — identical to the formula engine's `_upsample`
    (plans/formula.py), which this operator mirrors; no range join, no
    BroadcastNestedLoopJoin.

    Duplicate (key, start) rows are tolerated and produce duplicate output
    rows: ties are ordered by value, so every duplicate but the largest
    claims just its own slot and the largest claims the span to the next
    point, whatever the input's partition order."""
    assert from_seconds % to_seconds == 0
    src = points.select(
        F.col(key).alias("__k"),
        F.unix_timestamp(F.col(start_col)).alias("__s"),
        F.col(value).alias("__v"),
    )
    nxt = F.lead("__s").over(W.partitionBy("__k").orderBy("__s", "__v"))
    # exclusive claim end, clamped to at least one fine slot: a duplicate
    # (key, start) in the input makes lead(__s) == __s, which would send
    # F.sequence a negative span (runtime error) and n_slots to 0 (division
    # by zero) — each duplicate now claims exactly its own slot instead
    # (ADVICE r5); duplicate-free inputs are unaffected (end >= __s +
    # to_seconds already holds for them).
    end = F.greatest(
        F.coalesce(nxt, F.col("__s") + from_seconds),
        F.col("__s") + to_seconds,
    )
    # last claimed slot: highest to_seconds-multiple offset strictly < end
    last = F.col("__s") + F.floor((end - 1 - F.col("__s")) / to_seconds) * to_seconds
    spans = src.select(
        "__k", "__v", "__s", last.cast("long").alias("__l")
    )
    if agg == "sum":
        n_slots = (F.col("__l") - F.col("__s")) / to_seconds + 1
        spans = spans.withColumn("__v", F.col("__v") / n_slots)
    fine = spans.select(
        "__k",
        "__v",
        F.explode(F.sequence("__s", "__l", F.lit(to_seconds))).alias("__w"),
    )
    return fine.select(
        F.col("__k").alias(key),
        F.timestamp_seconds(F.col("__w")).alias(start_col),
        F.col("__v").alias(value),
    )


def dense_reindex(
    points: DataFrame,
    key: str = "url",
    start_col: str = "start",
    value: str = "value",
    freq_seconds: int = 3600,
    ts_ini=None,
    ts_end=None,
) -> DataFrame:
    """R8: complete missing grid points with NULL value (reference
    lib2/__init__.py:64-71). Bounds default to each series' own span."""
    Fs = freq_seconds
    src = points.select(
        F.col(key).alias("__k"),
        F.unix_timestamp(F.col(start_col)).alias("__w"),
        F.col(value),
    )
    if ts_ini is not None and ts_end is not None:
        lo = F.lit(int(pd.Timestamp(ts_ini).timestamp()) // Fs * Fs)
        hi = F.lit(int(pd.Timestamp(ts_end).timestamp()) // Fs * Fs)
        spans = src.select("__k").distinct().select("__k", lo.alias("__w0"), hi.alias("__w1"))
    else:
        spans = src.groupBy("__k").agg(F.min("__w").alias("__w0"), F.max("__w").alias("__w1"))
    grid = spans.select("__k", F.explode(F.sequence("__w0", "__w1", F.lit(Fs))).alias("__w"))
    return (
        grid.join(src, ["__k", "__w"], "left")
        .select(
            F.col("__k").alias(key),
            F.timestamp_seconds(F.col("__w")).alias(start_col),
            F.col(value),
        )
    )


# ---------------------------------------------------------------------------
# Continuous aggregates over web_pages (the north-star tier payload)
# ---------------------------------------------------------------------------

def continuous_aggregate(
    df: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    value: str = "value",
    lang: str = "lang",
    freq_seconds: int = 3600,
) -> DataFrame:
    """Per-(url, tier window): crawl count, value (text length) min/max/
    avg/sum, and the lang-distribution map. Two-level aggregation: the
    (key, window, lang) pre-aggregate bounds the collect_list fan-in (hot
    domains hit the partial-agg combiner map-side, so no salting is needed
    for these algebraic aggregates)."""
    Fs = freq_seconds
    win = (F.floor(F.unix_timestamp(F.col(ts_col)) / Fs) * Fs).alias("__w")
    base = df.select(F.col(key).alias("__k"), win, F.col(value).alias("__v"), F.col(lang).alias("__lang"))
    per_lang = base.groupBy("__k", "__w", "__lang").agg(
        F.count("*").alias("__n"),
        F.min("__v").alias("__min"),
        F.max("__v").alias("__max"),
        F.sum("__v").alias("__sum"),
        F.count("__v").alias("__nval"),
    )
    out = per_lang.groupBy("__k", "__w").agg(
        F.sum("__n").alias("crawl_count"),
        F.min("__min").alias("len_min"),
        F.max("__max").alias("len_max"),
        F.sum("__sum").alias("len_sum"),
        (F.sum("__sum") / F.sum("__nval")).alias("len_avg"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("__lang"), F.col("__n"))))
        ).alias("lang_counts"),
    )
    return out.select(
        F.col("__k").alias(key),
        F.timestamp_seconds(F.col("__w")).alias("start"),
        "crawl_count",
        "len_min",
        "len_max",
        "len_avg",
        "len_sum",
        "lang_counts",
    )

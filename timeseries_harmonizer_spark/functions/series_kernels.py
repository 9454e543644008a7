"""Per-series pandas kernels — the exact-semantics core.

These are *original* vectorized pandas implementations of the reference
harmonizer's per-series semantics (studied from /root/reference; cited per
function). They run in two places:

1. inside Arrow-batched ``applyInPandas`` stages of the Spark engine, for
   the operators whose semantics are iterative / data-dependent and cannot
   be a closed-form Catalyst expression (C2 znorm, C9 modbus rebuild, K1
   PV repair);
2. in the pytest oracle, which replays them per series to pin the engine's
   native (pure-DataFrame) paths, the R1/R2/R3 rollups among them.

Every function takes/returns pandas objects with a UTC ``DatetimeIndex``
named ``timestamp`` and a float ``value`` column, mirroring the reference's
in-flight series shape (reference harmonizers/__init__.py:337,347).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MAX_POWER_DEFAULT = 10000.0  # reference lib2/clean_outliers.py:10-11,33-34


# ---------------------------------------------------------------------------
# R1/R2/R3 — harmonize_irregular_data (reference lib2/__init__.py:26-42)
# ---------------------------------------------------------------------------

def rollup_sum(series: pd.Series, freq_seconds: int) -> pd.Series:
    """SUM (cumulative meter) rollup.

    Semantics (reference lib2/__init__.py:27-35): drop rows whose diff is
    negative; resample to a 1-second grid with mean + linear interpolation;
    diff the 1s series; keep diffs >= 0; tumbling sum at the tier freq,
    emitting only windows where every second of the window is present
    (count == freq seconds).
    """
    s = series.dropna()
    if s.empty:
        return pd.Series(dtype="float64")
    keep = ~(s.diff() < 0)
    s = s[keep]
    grid = s.resample("1s").mean().interpolate(method="linear")
    inc = grid.diff()
    inc = inc[inc >= 0]
    freq = pd.Timedelta(seconds=freq_seconds)
    cnt = inc.resample(freq).count()
    total = inc.resample(freq).sum()
    return total[cnt == freq.total_seconds()]


def rollup_avg(series: pd.Series, freq_seconds: int) -> pd.Series:
    """AVG (instantaneous) rollup: 1s grid mean + linear interp, tumbling
    mean, complete windows only (reference lib2/__init__.py:36-40)."""
    s = series.dropna()
    if s.empty:
        return pd.Series(dtype="float64")
    grid = s.resample("1s").mean().interpolate(method="linear")
    freq = pd.Timedelta(seconds=freq_seconds)
    cnt = grid.resample(freq).count()
    avg = grid.resample(freq).mean()
    return avg[cnt == freq.total_seconds()]


def rollup_last(series: pd.Series, freq_seconds: int) -> pd.Series:
    """LAST (status) rollup: tumbling last + LOCF across empty windows; no
    complete-window gate (reference lib2/__init__.py:41-42)."""
    freq = pd.Timedelta(seconds=freq_seconds)
    return series.resample(freq).last().ffill()


def harmonize(series: pd.Series, agg_func: str, freq_seconds: int) -> pd.Series:
    if agg_func == "SUM":
        return rollup_sum(series, freq_seconds)
    if agg_func == "AVG":
        return rollup_avg(series, freq_seconds)
    if agg_func == "LAST":
        return rollup_last(series, freq_seconds)
    raise ValueError(f"unknown agg_func {agg_func!r}")


# ---------------------------------------------------------------------------
# R5 — gap split (reference harmonizers/__init__.py:358-369)
# ---------------------------------------------------------------------------

def session_ids(index: pd.DatetimeIndex, gap_seconds: int | None) -> np.ndarray:
    """0-based session id per row; increments where the gap to the previous
    row exceeds gap_seconds. Gaps are measured between floored whole epoch
    seconds, as in ``operators.sessionize.sessionize``."""
    if gap_seconds is None or len(index) == 0:
        return np.zeros(len(index), dtype="int64")
    deltas = index.floor("s").to_series().diff().dt.total_seconds().to_numpy()
    breaks = np.nan_to_num(deltas, nan=0.0) > gap_seconds
    return np.cumsum(breaks).astype("int64")


def harmonize_with_gaps(
    series: pd.Series, agg_func: str, freq_seconds: int, gap_seconds: int | None
) -> pd.Series:
    """Split on gaps, harmonize each continuous part independently, concat
    (reference harmonizers/__init__.py:358-369,379-383)."""
    series = series.sort_index()
    sids = session_ids(series.index, gap_seconds)
    parts = [
        harmonize(series[sids == sid], agg_func, freq_seconds)
        for sid in np.unique(sids)
    ]
    parts = [p for p in parts if not p.empty]
    if not parts:
        return pd.Series(dtype="float64")
    return pd.concat(parts)


# ---------------------------------------------------------------------------
# Cleaners C1-C11 (reference lib2/clean_outliers.py)
# ---------------------------------------------------------------------------

def percentile_clean(values: pd.Series) -> pd.Series:
    """C1: NaN outside [p10 - 1.5*IQR, p90 + 1.5*IQR], IQR floored at 1
    (reference lib2/clean_outliers.py:76-84)."""
    if values.dropna().empty:
        return values
    q1 = np.nanpercentile(values, 10)
    q3 = np.nanpercentile(values, 90)
    iqr = max(q3 - q1, 1)
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    return values.where((values >= lo) & (values <= hi))


def max_power_clean(
    series: pd.Series, max_power: float | None, accumulated: bool
) -> pd.Series:
    """C4: physical rate limit. NaN where the increment (accumulated) or the
    value itself (instantaneous) is >= max_power scaled by the row's time
    delta vs 1h (reference lib2/clean_outliers.py:53-65). The first row's
    delta is NaN -> comparison False -> first row becomes NaN, matching the
    reference's row-lambda behavior."""
    if not max_power:
        return series
    diff_v = series.diff() if accumulated else series
    diff_t = series.index.to_series().diff().dt.total_seconds().to_numpy()
    threshold = max_power * diff_t / 3600.0
    keep = diff_v.to_numpy() < threshold  # NaN compares False
    return series.where(keep)


def incremental_only_clean(series: pd.Series) -> pd.Series:
    """C5: keep only rows where value >= running max (NaNs are kept — they
    compare False to the cummax; reference lib2/clean_outliers.py:68-73)."""
    is_error = series < series.cummax()
    return series[~is_error]


def night_refill_flag(index: pd.DatetimeIndex) -> np.ndarray:
    """hour in [23,24) U [0,6) (reference lib2/clean_outliers.py:88)."""
    h = index.hour
    return (h >= 23) | (h < 6)


NIGHT_SENTINEL = -100.0  # reference lib2/clean_outliers.py:91-96


def night_consumption_clean(series: pd.Series, accumulated: bool) -> pd.Series:
    """C6: night-refill handling (reference lib2/clean_outliers.py:87-101).

    accumulated: night rows that carry a (non-NaN) value are LOCF-filled
    from the previous row; pre-existing NaNs survive via the reference's
    -100 sentinel (so a night row following a NaN becomes NaN, not the value
    before the NaN). instantaneous: night rows are zeroed.
    """
    refill = night_refill_flag(series.index)
    out = series.copy()
    if accumulated:
        base = out.fillna(NIGHT_SENTINEL)
        if len(refill):
            refill = refill.copy()
            refill[0] = False  # first row kept (reference :93)
        to_fill = refill & (base.to_numpy() != NIGHT_SENTINEL)
        filled = base.where(~to_fill).ffill()
        return filled.where(filled != NIGHT_SENTINEL)
    out[refill] = 0.0
    return out


def znorm_clean(series: pd.Series, w_size: int = 50, z_max: float = 8.0) -> pd.Series:
    """C2: z-score outlier removal against a trailing window of *changed*,
    percentile-cleaned values (reference lib2/clean_outliers.py:108-127).

    - "changed" rows: diff != 0 (first row's NaN diff counts as changed);
    - bootstrap: sliding 50-row percentile clean over the changed rows,
      mutating in place (each iteration overwrites rows [i, i+49] with the
      chunk's cleaned values, so later chunks see earlier chunks' NaNs; a
      row's final value comes from the chunk *starting* at it);
    - each row i >= 50 of the full series is NaN'd when its |z| vs the
      trailing 50 cleaned changed rows (up to and including its timestamp)
      exceeds z_max (std is sample std, ddof=1);
    - the first 50 rows are dropped.
    """
    s = series.copy()
    n = len(s)
    if n <= w_size:
        return s.iloc[w_size:]
    diff = s.diff()
    changed_mask = (diff != 0) | diff.isna()
    window_vals = s[changed_mask].copy()
    # bootstrap clean: sequential in-place sliding-window percentile clean
    wv = window_vals.to_numpy().copy()
    for j in range(len(wv)):
        chunk = pd.Series(wv[j : j + w_size])
        wv[j : j + w_size] = percentile_clean(chunk).to_numpy()
    cleaned = pd.Series(wv, index=window_vals.index).dropna()
    cleaned_ts = cleaned.index
    cleaned_np = cleaned.to_numpy()
    out = s.copy()
    for i in range(w_size, n):
        ts_i = s.index[i]
        # trailing w_size cleaned changed values with timestamp <= ts_i
        hi = cleaned_ts.searchsorted(ts_i, side="right")
        w = cleaned_np[max(0, hi - w_size) : hi]
        if len(w) == 0:
            continue
        mean = np.nanmean(w)
        std = pd.Series(w).std()  # ddof=1
        z = abs(s.iloc[i] - mean) / std
        if z > z_max:
            out.iloc[i] = np.nan
    return out.iloc[w_size:]


def clean_instant_energy_data(
    series: pd.Series, property_name: str, max_power: float | None, agg_func: str
) -> pd.Series:
    """C8 composite (reference lib2/clean_outliers.py:8-18): for energy
    properties: negatives -> NaN, max-power (instantaneous), night-zero for
    Generation/ExportedToGrid; otherwise znorm (skipped for LAST series)."""
    if property_name in ("Generation", "ExportedToGrid", "ImportedFromGrid", "Consumption"):
        mp = max_power or MAX_POWER_DEFAULT
        s = series.where(~(series < 0))
        s = max_power_clean(s, mp, accumulated=False)
        if property_name in ("Generation", "ExportedToGrid"):
            s = night_consumption_clean(s, accumulated=False)
        return s
    if agg_func == "LAST":  # znorm skips LAST (reference :109-110)
        return series
    return znorm_clean(series)


def clean_modbus_energy_data(
    series: pd.Series, property_name: str, max_power: float | None, agg_func: str
) -> pd.Series:
    """C9 composite (reference lib2/clean_outliers.py:21-41): for energy
    properties: percentile-clean the *diffs* (bounds from nonzero diffs when
    >30 of them, else all rows), drop NaN diffs, cumsum-rebuild the level,
    monotone filter, then (for generation-side) max-power + night LOCF;
    otherwise percentile-clean nonzero values."""
    if property_name in ("Generation", "ExportedToGrid", "ImportedFromGrid", "Consumption"):
        diff = series.diff()
        nonzero = diff != 0  # first-row NaN diff: NaN != 0 -> True
        nonzero |= diff.isna()
        if int(nonzero.sum()) > 30:
            diff[nonzero] = percentile_clean(diff[nonzero])
        else:
            diff = percentile_clean(diff)
        diff = diff.dropna()
        rebuilt = diff.cumsum()
        s = incremental_only_clean(rebuilt)
        mp = max_power or MAX_POWER_DEFAULT
        if property_name in ("Generation", "ExportedToGrid"):
            s = max_power_clean(s, mp, accumulated=True)
            s = night_consumption_clean(s, accumulated=True)
        return s
    out = series.copy()
    nz = out != 0
    out[nz] = percentile_clean(out[nz])
    return out


def drop_negative_diffs(series: pd.Series) -> pd.Series:
    """C11 (embedded in R1): drop rows whose diff is negative
    (reference lib2/__init__.py:28-29)."""
    return series[~(series.diff() < 0)]


# ---------------------------------------------------------------------------
# K1 — PV energy-balance repair (reference post_process/pv_postprocess.py:26-68)
# ---------------------------------------------------------------------------

def pv_energy_balance(gen: pd.Series, exp: pd.Series) -> tuple[bool, pd.Series]:
    """Repair exported-energy series against generation: where exp > gen,
    cap exp at gen and redistribute the excess to neighbor rows at offsets
    +1,-1,...,+5,-5 (each bounded by that row's spare capacity gen-exp; a
    neighbor already over-exporting is itself capped and its excess absorbed
    into the outstanding amount). If the excess is not absorbable within 5
    offsets, roll the column back and null the point. Inherently sequential
    -> runs per (system, chunk) inside applyInPandas.

    Returns (any_repair_done, repaired_exp).
    """
    if gen.empty or exp.empty:
        return False, None
    g = gen.astype(float).round(5).to_numpy()
    e = exp.astype(float).round(5).to_numpy().copy()
    n = len(e)
    problem = np.nonzero((g - e) < 0)[0]
    update = False
    for i in problem:
        rollback = e.copy()
        update = True
        over = e[i] - g[i]
        if over <= 0:
            continue
        e[i] = g[i]
        ind = 0
        cands: list[int] = []
        while over > 0:
            if not cands and ind < 5:
                ind += 1
                # try +ind first, then -ind (reference pops positive first)
                if i - ind > 0:
                    cands.append(-ind)
                if i + ind < n:
                    cands.append(ind)
            if not cands:
                e = rollback
                e[i] = np.nan
                break
            j = i + cands.pop()
            cap = g[j] - e[j]
            if cap > 0:
                moved = min(over, cap)
                e[j] += moved
                over -= moved
            else:
                e[j] = g[j]
                over += -cap
    return update, pd.Series(e, index=exp.index)

"""P1W/P1M calendar tiers: date_trunc windows in downsample (SUM, AVG and
LAST) and the retention sweep, pinned to the pandas calendar-resample oracle (the
reference's '1MS' transform_freq and isodate_floor,
lib2/calculate_formulas.py:11-31)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.operators.retention import sweep_tier
from timeseries_harmonizer_spark.operators.rollup import downsample


@pytest.fixture(scope="module")
def daily(spark):
    idx = pd.date_range("2024-01-01", periods=90, freq="1D")  # Jan 1 is a Monday
    pdf = pd.DataFrame(
        {"url": "u", "start": idx, "value": np.arange(90, dtype="float64")}
    )
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("agg,pd_agg", [("sum", "sum"), ("avg", "mean"), ("last", "last")])
def test_downsample_to_p1m(spark, daily, agg, pd_agg):
    pts, pdf = daily
    got = (
        downsample(pts, agg=agg, from_seconds=86400, to_seconds="P1M")
        .orderBy("start")
        .toPandas()
    )
    exp = pdf.set_index("start")["value"].resample("1MS").agg(pd_agg)
    assert (pd.DatetimeIndex(got["start"]) == exp.index).all()
    np.testing.assert_allclose(got["value"].to_numpy(), exp.to_numpy())


def test_downsample_to_p1w(spark, daily):
    pts, pdf = daily
    got = (
        downsample(pts, agg="sum", from_seconds=86400, to_seconds="P1W")
        .orderBy("start")
        .toPandas()
    )
    # Monday-floored weeks labeled by their Monday == isodate_floor P1W
    exp = pdf.set_index("start")["value"].resample("W-MON", label="left", closed="left").sum()
    assert (pd.DatetimeIndex(got["start"]) == exp.index).all()
    np.testing.assert_allclose(got["value"].to_numpy(), exp.to_numpy())


def test_sweep_1d_into_p1m(spark):
    assert TIERS["1d"].coarser == "P1M"
    idx = pd.date_range("2023-01-01", periods=500, freq="1D")
    pdf = pd.DataFrame(
        {
            "url": "u",
            "start": idx,
            "value": np.ones(len(idx)),
            "agg_func": "SUM",
        }
    )
    now = idx[-1]
    coarse, retained = sweep_tier(spark.createDataFrame(pdf), "1d", now)
    c = coarse.orderBy("start").toPandas()
    r = retained.toPandas()
    # the raw now-365d cutoff is never month-aligned; the sweep floors it to
    # the month start so only COMPLETE months are swept
    cutoff = (now - TIERS["1d"].retention).normalize().replace(day=1)
    assert (pd.DatetimeIndex(r["start"]) >= cutoff).all()
    assert (c["tier"] == "P1M").all()
    # month labels are calendar month starts, values = days swept per month
    assert (pd.DatetimeIndex(c["start"]).day == 1).all()
    expired = pdf[pdf["start"] < cutoff]
    exp = expired.set_index("start")["value"].resample("1MS").sum()
    np.testing.assert_allclose(c["value"].to_numpy(), exp.to_numpy())
    # every swept month is complete: daily 1.0 values sum to the month length
    days = pd.DatetimeIndex(c["start"]).days_in_month
    np.testing.assert_allclose(c["value"].to_numpy(), days.to_numpy())


def test_sweep_never_reemits_partial_months(spark):
    """Successive sweeps as `now` advances must never emit the same
    (url, month) twice with different partial values — with a month-floored
    cutoff each month is swept exactly once, as a complete window, so the
    last-write-wins read dedup can never drop data."""
    idx = pd.date_range("2023-01-01", periods=460, freq="1D")
    pdf = pd.DataFrame(
        {"url": "u", "start": idx, "value": np.ones(len(idx)), "agg_func": "SUM"}
    )
    pts = spark.createDataFrame(pdf)
    seen: dict[pd.Timestamp, float] = {}
    # advance now in 10-day steps; re-feed the retained fine rows each time
    # (expired rows leave the fine tier, as in the real sweep job)
    for step in range(0, 90, 10):
        now = idx[-1] + pd.Timedelta(days=step)
        coarse, retained = sweep_tier(pts, "1d", now)
        c = coarse.toPandas()
        for s, v in zip(pd.DatetimeIndex(c["start"]), c["value"]):
            assert s not in seen, f"month {s} swept twice ({seen[s]} then {v})"
            assert v == s.days_in_month, f"partial month {s}: {v}"
            seen[s] = v
        pts = retained
    assert len(seen) >= 2  # the advancing horizon actually swept new months


def test_run_tier_rejects_calendar(spark, pages, reg):
    from timeseries_harmonizer_spark.plans.pipeline import run_tier

    with pytest.raises(ValueError, match="calendar"):
        run_tier(pages, reg, "P1M")


def test_tier_cascade_conserves_sum(spark):
    """Full cascade 1m -> 1h -> 1d -> P1M with per-stage LWW stores:
    at every stage, swept windows are complete (value 60/1440/days*1440)
    and the total of (all coarse stores + retained fine rows) equals the
    original minute count — nothing is lost or double-counted, even when
    the coarser sweeps run with a far-future `now` (the data-completeness
    cap stops a sweep from outrunning what the finer tier delivered)."""
    idx = pd.date_range("2024-04-01", periods=30 * 1440, freq="1min")
    total = float(len(idx))
    pts_1m = spark.createDataFrame(
        pd.DataFrame({"url": "u", "start": idx, "value": 1.0, "agg_func": "SUM"})
    )
    now = idx[-1]
    h_coarse, m_retained = sweep_tier(pts_1m, "1m", now)
    h_pdf = h_coarse.toPandas()
    assert (h_pdf["value"] == 60.0).all()  # every swept hour complete
    # cascade with a jumped clock: without the completeness cap the 1h
    # sweep would emit a partial final day (the 1m sweep boundary is
    # hour-aligned, not day-aligned)
    h_in = h_coarse.select("url", "start", "value").withColumn(
        "agg_func", F.lit("SUM")
    )
    d_coarse, h_retained = sweep_tier(h_in, "1h", now + pd.Timedelta(days=90))
    d_pdf = d_coarse.toPandas()
    assert (d_pdf["value"] == 1440.0).all()  # every swept day complete
    d_in = d_coarse.select("url", "start", "value").withColumn(
        "agg_func", F.lit("SUM")
    )
    m_coarse, d_retained = sweep_tier(d_in, "1d", now + pd.Timedelta(days=500))
    m_pdf = m_coarse.toPandas()
    for s, v in zip(pd.DatetimeIndex(m_pdf["start"]), m_pdf["value"]):
        assert v == s.days_in_month * 1440.0  # complete months only
    # conservation across the whole cascade
    grand = (
        m_pdf["value"].sum()
        + d_retained.toPandas()["value"].sum()
        + h_retained.toPandas()["value"].sum()
        + m_retained.toPandas()["value"].sum()
    )
    assert grand == total


def test_upsample_sparse_gap_ffill(spark):
    """Standalone R7 upsample on GAPPY input must match the reference's
    resample(freq).ffill() (lib2/calculate_formulas.py:183-190): a missing
    coarse day is filled by the previous point, and SUM divides by the
    ACTUAL claimed-slot count (48 across a one-day gap), conserving the
    series total — the r4-verdict divergence of the dense-only operator."""
    from timeseries_harmonizer_spark.operators.rollup import upsample

    days = pd.to_datetime(
        ["2024-01-01", "2024-01-02", "2024-01-04", "2024-01-05"]  # Jan 3 missing
    )
    vals = [24.0, 48.0, 96.0, 12.0]
    pdf = pd.DataFrame({"url": "u", "start": days, "value": vals})
    sdf = spark.createDataFrame(pdf)

    # pandas oracle over the full claimed span (last point claims one full day)
    idx = pd.date_range(days.min(), days.max() + pd.Timedelta("23h"), freq="h")
    locf = pd.Series(vals, index=days).reindex(idx, method="ffill")
    src_ts = pd.Series(days, index=days).reindex(idx, method="ffill")
    n_claimed = src_ts.map(src_ts.value_counts()).astype("float64")

    got_locf = (
        upsample(sdf, agg="last", from_seconds=86400, to_seconds=3600)
        .orderBy("start").toPandas()
    )
    assert (pd.DatetimeIndex(got_locf["start"]) == idx).all()
    np.testing.assert_allclose(got_locf["value"].to_numpy(), locf.to_numpy())

    got_sum = (
        upsample(sdf, agg="sum", from_seconds=86400, to_seconds=3600)
        .orderBy("start").toPandas()
    )
    np.testing.assert_allclose(
        got_sum["value"].to_numpy(), (locf / n_claimed).to_numpy()
    )
    # the gap day spreads 48.0 over 48 slots; totals are conserved
    jan3 = got_sum[got_sum["start"].dt.normalize() == pd.Timestamp("2024-01-03")]
    assert len(jan3) == 24 and np.allclose(jan3["value"], 1.0)
    np.testing.assert_allclose(got_sum["value"].sum(), sum(vals))


def test_upsample_duplicate_start_tolerated(spark):
    """A duplicate (key, start) must not crash the claim-span arithmetic
    (lead == __s used to send F.sequence a negative span and n_slots to 0 —
    ADVICE r5): each duplicate claims exactly its own slot, and
    duplicate-free points are unchanged."""
    from timeseries_harmonizer_spark.operators.rollup import upsample

    days = pd.to_datetime(["2024-01-01", "2024-01-01", "2024-01-02"])
    pdf = pd.DataFrame({"url": "u", "start": days, "value": [24.0, 48.0, 96.0]})
    sdf = spark.createDataFrame(pdf)
    out = (
        upsample(sdf, agg="sum", from_seconds=86400, to_seconds=3600)
        .orderBy("start", "value").toPandas()
    )
    # first duplicate claims a single slot at its own start (24/1), second
    # duplicate claims [01-01, 01-02) = 24 slots, last point a full day
    assert len(out) == 1 + 24 + 24
    dup_slot = out[out["value"] == 24.0]
    assert len(dup_slot) == 1 and dup_slot["start"].iloc[0] == days[0]
    jan1 = out[(out["start"] >= days[0]) & (out["start"] < days[2])]
    np.testing.assert_allclose(sorted(jan1["value"].unique()), [2.0, 24.0])
    np.testing.assert_allclose(out["value"].sum(), 24.0 + 48.0 + 96.0)


def test_upsample_duplicate_start_deterministic(spark):
    """Which duplicate (key, start) row claims the single slot must not
    depend on input order: the same rows reversed, in one partition or
    spread over several, give identical output."""
    from timeseries_harmonizer_spark.operators.rollup import upsample

    days = pd.to_datetime(["2024-01-01", "2024-01-01", "2024-01-02"])
    pdf = pd.DataFrame({"url": "u", "start": days, "value": [24.0, 48.0, 96.0]})
    rev = pdf.iloc[::-1].reset_index(drop=True)

    def run(df):
        out = upsample(df, agg="sum", from_seconds=86400, to_seconds=3600)
        return out.orderBy("start", "value").toPandas()

    base = run(spark.createDataFrame(pdf).coalesce(1))
    for df in (
        spark.createDataFrame(rev).coalesce(1),
        spark.createDataFrame(rev).repartition(3),
    ):
        pd.testing.assert_frame_equal(run(df), base)
    assert base[base["start"] == days[0]]["value"].tolist() == [2.0, 24.0]

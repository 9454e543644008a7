"""The BASELINE parity suite: the pipeline's native closed-form rollup vs
the pandas oracle's 1s-grid replay, at every retention tier. Values are
compared unrounded at 1e-9, well inside the reference's round(5)
(reference harmonizers/__init__.py:233)."""

import numpy as np
import pandas as pd
import pytest

import oracle
from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.plans import pipeline


GAPLESS_SUM_URL = "https://gapless.example.com/sum"


@pytest.fixture(scope="module")
def parity_inputs(spark, pages, reg):
    """The shared fixture plus one gapless SUM series: a meter read every
    30 minutes for three days, so its second day is a complete 1d window.
    The shared fixture has no SUM series with a complete 1d window, so
    without it the 1d SUM cases compare nothing."""
    n = 3 * 48
    texts = ["w" * (5 + i // 4) for i in range(n)]
    extra = pd.DataFrame(
        {
            "url": GAPLESS_SUM_URL,
            "warc_ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n) * 1800, unit="s"),
            "html": [
                f"<html><head><title>t</title></head><body><p>{t}</p></body></html>".encode()
                for t in texts
            ],
            "text": texts,
            "lang": "en",
            "ingest_pos": np.arange(n, dtype=np.int64),
            "value": [float(len(t)) for t in texts],
            "url_idx": -1,
        }
    )
    extra_reg = pd.DataFrame(
        {
            "url": [GAPLESS_SUM_URL],
            "series_hash": ["gapless"],
            "property": ["EnergyConsumptionGridElectricity"],
            "agg_func": ["SUM"],
            "raw_conv_ratio": [1.0],
            "raw_conv_offset": [0.0],
            "harm_conv_ratio": [1.0],
            "harm_conv_offset": [0.0],
            "max_power": [10000.0],
        }
    )
    all_pages = pages.unionByName(spark.createDataFrame(extra, schema=pages.schema))
    all_reg = reg.unionByName(spark.createDataFrame(extra_reg, schema=reg.schema))
    return all_pages, all_reg, all_pages.toPandas(), all_reg.toPandas()


def _each_agg(reg_pdf: pd.DataFrame, expected: pd.DataFrame):
    """(agg, the expected rows of that agg's urls), asserting each is
    non-empty so no case passes by comparing nothing."""
    for agg, urls in reg_pdf.groupby("agg_func")["url"]:
        want = expected[expected["url"].isin(urls)]
        assert len(want), f"no expected {agg} rows"
        yield agg, want


def _compare(got: pd.DataFrame, expected: pd.DataFrame, tol=1e-9):
    got = got.sort_values(["url", "start"]).reset_index(drop=True)
    expected = expected.sort_values(["url", "start"]).reset_index(drop=True)
    assert len(got) == len(expected), (len(got), len(expected))
    assert (got["url"].to_numpy() == expected["url"].to_numpy()).all()
    assert (
        pd.DatetimeIndex(got["start"]) == pd.DatetimeIndex(expected["start"])
    ).all()
    g = got["value"].to_numpy(dtype="float64")
    e = expected["value"].to_numpy(dtype="float64")
    both_nan = np.isnan(g) & np.isnan(e)
    diff = np.abs(g - e)
    bad = ~(both_nan | (diff <= tol))
    assert not bad.any(), got[bad].head(10).to_string() + "\n---\n" + expected[bad].head(10).to_string()


@pytest.mark.parametrize("tier_name", ["1m", "1h", "1d"])
def test_native_rollup_matches_oracle(spark, parity_inputs, tier_name):
    tier = TIERS[tier_name]
    pages, reg, pages_pdf, reg_pdf = parity_inputs
    prepared = pipeline.prepare(pages, reg, tier)
    pts = pipeline.rollup_points(prepared, tier)
    got = pts.select("url", "start", "value").toPandas()
    expected = oracle.harmonize_pages(
        pages_pdf, reg_pdf, tier.seconds, tier.gap_seconds, round_digits=12
    )
    assert sorted(agg for agg, _ in _each_agg(reg_pdf, expected)) == ["AVG", "LAST", "SUM"]
    _compare(got, expected)


def test_twa_matches_numpy_trapezoid(spark):
    """rollup_native_twa vs a numpy trapezoid oracle on irregular data, and
    the analytic check: a pure linear ramp's TWA is the window midpoint."""
    from timeseries_harmonizer_spark.operators.rollup import rollup_native_twa

    rng = np.random.default_rng(11)
    t0 = 1704067200
    ts = np.sort(rng.choice(np.arange(0, 6 * 3600, 7), size=400, replace=False)) + t0
    vals = rng.normal(50, 10, size=400).round(3)
    pdf = pd.DataFrame(
        {"url": "u", "warc_ts": pd.to_datetime(ts, unit="s"), "value": vals}
    )
    got = (
        rollup_native_twa(spark.createDataFrame(pdf), session_col=None)
        .orderBy("start")
        .toPandas()
    )
    # numpy oracle: per fully-covered hour, trapezoid integral of the
    # piecewise-linear interpolant over [w, w+3600] / 3600
    f = lambda x: np.interp(x, ts.astype(float), vals)
    exp = []
    for w in range(t0, t0 + 6 * 3600, 3600):
        if ts[0] <= w and ts[-1] >= w + 3600:
            xs = np.unique(np.concatenate(
                [[w, w + 3600], ts[(ts >= w) & (ts <= w + 3600)].astype(float)]))
            integ = np.trapz(f(xs), xs)
            exp.append((w, np.floor(integ / 3600 * 1e6) / 1e6))
    assert len(got) == len(exp) >= 3
    np.testing.assert_allclose(
        got["value"].to_numpy(), [v for _, v in exp], rtol=0, atol=2e-6
    )
    # analytic: ramp v(t) = t - t0 over [t0, t0+2h] -> hour k TWA = k*3600+1800
    ramp = pd.DataFrame(
        {
            "url": "r",
            "warc_ts": pd.to_datetime([t0, t0 + 7200], unit="s"),
            "value": [0.0, 7200.0],
        }
    )
    r = (
        rollup_native_twa(spark.createDataFrame(ramp), session_col=None)
        .orderBy("start")
        .toPandas()
    )
    np.testing.assert_allclose(r["value"].to_numpy(), [1800.0, 5400.0])


def test_same_second_rows_match_oracle(spark):
    """Two raw rows inside one second (sub-second warc_ts): the knots
    average them, which is what SUM and AVG replay, but LAST must take the
    later row of that second, as the oracle's tumbling last() does."""
    from timeseries_harmonizer_spark.functions import series_kernels as K
    from timeseries_harmonizer_spark.operators.rollup import rollup_native

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    offsets = {
        # the collision is the last observed second of window 0; window
        # 60 is empty and carries it forward
        "LAST": ([0.0, 30.0, 59.2, 59.7, 150.0], [1.0, 2.0, 3.0, 7.0, 4.0]),
        "SUM": ([0.0, 40.0, 65.2, 65.7, 130.0], [0.0, 4.0, 10.0, 12.0, 20.0]),
        "AVG": ([0.0, 40.0, 65.1, 65.8, 130.0], [5.0, 1.0, 8.0, 2.0, 6.0]),
    }
    rows, expected = [], []
    for agg, (secs, vals) in offsets.items():
        ts = t0 + pd.to_timedelta(secs, unit="s")
        rows += [(agg, t, v, agg) for t, v in zip(ts, vals)]
        exp = K.harmonize(pd.Series(vals, index=pd.DatetimeIndex(ts)), agg, 60)
        expected.append(
            pd.DataFrame({"url": agg, "start": exp.index, "value": exp.to_numpy()})
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "value", "agg_func"])
    )
    got = rollup_native(df, freq_seconds=60, session_col=None).toPandas()
    expected = pd.concat(expected, ignore_index=True)
    _compare(got[["url", "start", "value"]], expected)
    last = got[got["url"] == "LAST"].sort_values("start")
    assert last["value"].tolist() == [7.0, 7.0, 4.0]
    assert last["is_real"].tolist() == [True, False, True]


def test_tier_rejects_gap_shorter_than_window():
    """rollup_native merges a series' sessions per tier window, so a tier
    whose session gap could split one window is refused at definition."""
    import dataclasses

    for tier in TIERS.values():
        assert tier.gap_seconds is None or tier.gap_seconds >= tier.seconds
    with pytest.raises(ValueError, match="gap_seconds"):
        dataclasses.replace(TIERS["1h"], gap_seconds=1800)
    assert dataclasses.replace(TIERS["1h"], gap_seconds=3600).gap_seconds == 3600

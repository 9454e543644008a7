"""Hot and sparse series on the native rollup pass: a 50k-point url and a
url with 300k raw rows in five minutes both match the pandas replay, the
latter with the window buffers forced to spill; the two-level explode stays
bounded over a long sparse span and gives the same rows and values as one
unbounded explode. Oracle parity at every tier is in
test_rollup_parity.py."""

import numpy as np
import pandas as pd
import pytest

from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.functions import series_kernels as K
from timeseries_harmonizer_spark.operators.rollup import rollup_native
from timeseries_harmonizer_spark.plans import pipeline


def test_hot_series_chunked(spark):
    """Skew demonstration: one pathological hot url (50k points, one
    session, ~32 days) runs through the native pass and matches the pandas
    1s-grid replay of the whole series."""
    n = 50_000
    rng = np.random.default_rng(11)
    idx = pd.to_datetime(1704067200 + np.cumsum(rng.integers(20, 90, n)), unit="s")
    vals = rng.normal(100, 3, n)
    df = spark.createDataFrame(
        pd.DataFrame({"url": "hot", "warc_ts": idx, "value": vals, "agg_func": "AVG"})
    )
    native = (
        rollup_native(df, freq_seconds=3600, session_col=None)
        .toPandas()
        .sort_values("start")
        .reset_index(drop=True)
    )
    base = K.harmonize(pd.Series(vals, index=idx), "AVG", 3600)
    assert len(native) == len(base) > 100
    assert (pd.DatetimeIndex(native["start"]) == base.index).all()
    np.testing.assert_allclose(
        native["value"].to_numpy(), base.to_numpy(), rtol=0, atol=1e-6
    )


def test_last_chunked_equals_unchunked(spark, pages, reg):
    """The chunked two-level explode (bounded batches of LAST claims and
    SUM/AVG segments) must be row- and value-identical to one chunk over
    the whole span."""
    tier = TIERS["1h"]
    prepared = pipeline.prepare(pages, reg, tier)

    def run(cw):
        return (
            rollup_native(
                prepared, freq_seconds=tier.seconds, session_col="session_id",
                chunk_windows=cw,
            )
            .toPandas()
            .sort_values(["url", "start"])
            .reset_index(drop=True)
        )

    base = run(10**9)  # one chunk spans everything
    chunked = run(1)   # one window per chunk: every boundary is a chunk edge
    assert len(base) == len(chunked), (len(base), len(chunked))
    assert (base["url"].to_numpy() == chunked["url"].to_numpy()).all()
    assert (base["start"].to_numpy() == chunked["start"].to_numpy()).all()
    assert (base["is_real"].to_numpy() == chunked["is_real"].to_numpy()).all()
    bn, cn = base["value"].isna(), chunked["value"].isna()
    assert (bn == cn).all()
    np.testing.assert_allclose(
        chunked["value"][~cn].to_numpy(), base["value"][~bn].to_numpy(),
        rtol=0, atol=1e-12,
    )


def test_last_sparse_long_span_bounded(spark):
    """The gap_check=None hazard: one url at a fine tier (1m) with a 40-day
    hole between two observations. The first window's claim must explode
    the whole span in bounded chunks (40 days of minutes crosses 50k),
    LOCF the hole from the first value, and keep is_real only where raw
    observations exist."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    t1 = t0 + pd.Timedelta(days=40)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["u", "u"], "warc_ts": [t0, t1], "value": [1.0, 2.0],
             "agg_func": ["LAST", "LAST"]}
        )
    )
    out = (
        rollup_native(df, freq_seconds=60, session_col=None, chunk_windows=50_000)
        .toPandas()
        .sort_values("start")
        .reset_index(drop=True)
    )
    n_expected = 40 * 86400 // 60 + 1
    assert len(out) == n_expected, (len(out), n_expected)
    assert out["value"].iloc[0] == 1.0 and out["value"].iloc[-1] == 2.0
    # the carry crosses every chunk boundary: all interior rows LOCF 1.0
    assert (out["value"].iloc[:-1] == 1.0).all()
    assert out["is_real"].sum() == 2
    assert bool(out["is_real"].iloc[0]) and bool(out["is_real"].iloc[-1])


@pytest.mark.parametrize("agg", ["SUM", "AVG"])
def test_mega_collision_bounded_groups(spark, agg):
    """The hot-series contract of rollup_native: 300k raw rows crammed into
    ~300 seconds of ONE url pass the negative-diff window as one 300k-row
    partition, and its knots the lead window. With the window buffers
    forced to spill to disk every 1,024 rows, values still match the pandas
    kernel run over the whole series."""
    n = 300_000
    rng = np.random.default_rng(5)
    secs = 1704067200 + rng.integers(0, 300, n)  # ~1000 collisions/second
    secs = np.sort(secs)
    # SUM: constant value per second (negative-diff dropping on tied
    # timestamps is tie-order-sensitive, so intra-second values must be
    # permutation-invariant); AVG: free-form noise, the 1s mean is
    # order-independent anyway
    vals = (
        (secs - secs[0]) * 1.0 if agg == "SUM" else rng.normal(100, 3, n)
    )
    pdf = pd.DataFrame(
        {"url": "hot", "warc_ts": pd.to_datetime(secs, unit="s"), "value": vals,
         "agg_func": agg}
    )
    df = spark.createDataFrame(pdf)
    key = "spark.sql.windowExec.buffer.spill.threshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1024")
    try:
        got = (
            rollup_native(df, freq_seconds=60, session_col=None)
            .toPandas().sort_values("start").reset_index(drop=True)
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    base = K.harmonize(
        pd.Series(vals, index=pd.DatetimeIndex(pdf["warc_ts"])), agg, 60
    )
    assert len(got) == len(base) >= 1
    assert (pd.DatetimeIndex(got["start"]) == base.index).all()
    np.testing.assert_allclose(
        got["value"].to_numpy(), base.to_numpy(), rtol=1e-9, atol=1e-6
    )

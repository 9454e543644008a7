"""Chunked rollups: the exact replay's time-salted Arrow groups and the
native pass's two-level explode stay bounded for hot and sparse series and
give the same values as one unbounded pass. Oracle parity of the chunked
replay is in test_rollup_parity.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.functions import series_kernels as K
from timeseries_harmonizer_spark.operators.rollup import rollup_exact_chunked
from timeseries_harmonizer_spark.plans import pipeline


@pytest.mark.parametrize("agg", ["SUM", "AVG"])
def test_chunked_equals_unchunked(spark, pages, reg, agg):
    """Chunk edges change nothing: aggressively small chunks give the same
    rows and values as a span wide enough that every session is one chunk
    (no overlap rows), i.e. the unchunked replay."""
    tier = TIERS["1h"]
    prepared = pipeline.prepare(pages, reg, tier).where(F.col("agg_func") == agg)

    def run(cw):
        return (
            rollup_exact_chunked(
                prepared,
                agg_func=agg,
                freq_seconds=tier.seconds,
                session_col="session_id",
                chunk_windows=cw,
            )
            .toPandas()
            .sort_values(["url", "start"])
            .reset_index(drop=True)
        )

    base = run(10**6)  # ~114 years per chunk: one chunk per session
    chunked = run(3)  # aggressively small chunks to stress boundaries
    assert len(base) == len(chunked) >= 1, (len(base), len(chunked))
    assert (base["url"].to_numpy() == chunked["url"].to_numpy()).all()
    assert (base["start"].to_numpy() == chunked["start"].to_numpy()).all()
    np.testing.assert_allclose(
        chunked["value"].to_numpy(), base["value"].to_numpy(), rtol=0, atol=1e-9
    )


def test_hot_series_chunked(spark):
    """Skew demonstration: one pathological hot url (50k points, one
    session) — the chunked path splits it into bounded Arrow groups and
    still matches the closed-form native path post-round."""
    import pandas as pd
    import numpy as np
    from timeseries_harmonizer_spark.operators.rollup import rollup_native

    n = 50_000
    rng = np.random.default_rng(11)
    idx = pd.to_datetime(1704067200 + np.cumsum(rng.integers(20, 90, n)), unit="s")
    pdf = pd.DataFrame({"url": "hot", "warc_ts": idx, "value": rng.normal(100, 3, n)})
    df = spark.createDataFrame(pdf)
    chunked = (
        rollup_exact_chunked(
            df, agg_func="AVG", freq_seconds=3600, session_col=None, chunk_windows=6
        )
        .toPandas()
        .sort_values("start")
        .reset_index(drop=True)
    )
    native = (
        rollup_native(
            df.withColumn("agg_func", F.lit("AVG")), freq_seconds=3600, session_col=None
        )
        .toPandas()
        .sort_values("start")
        .reset_index(drop=True)
    )
    assert len(chunked) == len(native) > 100
    np.testing.assert_allclose(
        chunked["value"].to_numpy(), native["value"].to_numpy(), rtol=0, atol=1e-6
    )


def test_last_chunked_equals_unchunked(spark, pages, reg):
    """The chunked two-level explode (bounded batches of LAST claims and
    SUM/AVG segments) must be row- and value-identical to one chunk over
    the whole span."""
    from timeseries_harmonizer_spark.operators.rollup import rollup_native

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
    import pandas as pd

    from timeseries_harmonizer_spark.operators.rollup import rollup_native

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
    """r4 verdict #5: 300k raw rows crammed into ~300 seconds of ONE url —
    without the native 1s pre-aggregate this is a single 300k-row Arrow
    group; with it every group is hard-bounded at chunk_windows*freq rows
    (the kernel ASSERTS the bound, so passing proves it) and values still
    match the pandas kernel run over the whole series."""
    import pandas as pd

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
        {"url": "hot", "warc_ts": pd.to_datetime(secs, unit="s"), "value": vals}
    )
    df = spark.createDataFrame(pdf)
    chunked = (
        rollup_exact_chunked(
            df, agg_func=agg, freq_seconds=60, session_col=None, chunk_windows=2
        )  # bound: 2*60 rows + 1 overlap per Arrow group
        .toPandas().sort_values("start").reset_index(drop=True)
    )
    base = K.harmonize(
        pd.Series(vals, index=pd.DatetimeIndex(pdf["warc_ts"])), agg, 60
    )
    assert len(chunked) == len(base) >= 1
    assert (pd.DatetimeIndex(chunked["start"]) == base.index).all()
    np.testing.assert_allclose(
        chunked["value"].to_numpy(), base.to_numpy(), rtol=1e-9, atol=1e-6
    )

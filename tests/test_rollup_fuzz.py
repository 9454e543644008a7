"""Randomized parity: ``sessionize`` + ``rollup_native`` against the pandas
oracle ``series_kernels.harmonize_with_gaps`` on a few hundred generated
series, one url each, checked with a single ``toPandas()``.

The generator draws the floored-second steps between rows from the cases
the closed form is most likely to get wrong: rows colliding inside one
second, steps of exactly ``gap - 1``, ``gap`` and ``gap + 1`` seconds (the
session-split boundary when gap == freq), long empty stretches that LAST
carries forward, and negative diffs. Every series is run at tiers 60 s and
300 s, with ``gap=None`` and gap == freq, and with ``chunk_windows`` 1 and
the default. Window sets must match exactly, values within 1e-9."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.functions import series_kernels as K
from timeseries_harmonizer_spark.operators.rollup import rollup_native
from timeseries_harmonizer_spark.operators.sessionize import sessionize

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
AGGS = ("SUM", "AVG", "LAST")
FREQS = (60, 300)
CHUNKS = (1, 50_000)  # the smallest explode batch and rollup_native's default
SERIES_PER_FREQ = 150


def _steps(rng, n, freq):
    """n - 1 floored-second steps, mixing collisions, the gap boundary,
    ordinary spacing and long LOCF stretches."""
    kind = rng.choice(5, size=n - 1, p=[0.15, 0.25, 0.4, 0.1, 0.1])
    return np.select(
        [kind == 0, kind == 1, kind == 2, kind == 3],
        [
            0,  # same second as the previous row
            freq + rng.integers(-1, 2, size=n - 1),  # gap - 1, gap, gap + 1
            rng.integers(1, 2 * freq, size=n - 1),
            rng.integers(5 * freq, 40 * freq, size=n - 1),  # long LOCF run
        ],
        rng.integers(1, 10, size=n - 1),  # a few seconds
    )


def _series(rng, freq, agg):
    """(epoch microseconds, values) of one series, strictly increasing in
    time; rows sharing a second get distinct sorted sub-second offsets."""
    n = int(rng.integers(2, 40))
    secs = T0 + int(rng.integers(0, 3 * freq)) + np.concatenate(
        [[0], np.cumsum(_steps(rng, n, freq))]
    )
    micros = secs * 1_000_000
    for s in np.unique(secs):  # one second's rows: increasing offsets
        at = secs == s
        micros[at] += np.sort(rng.choice(1_000_000, size=at.sum(), replace=False))
    if agg == "SUM":  # a meter with occasional resets and glitches
        inc = rng.uniform(0, 5, size=n).round(3)
        inc[rng.random(n) < 0.15] *= -4
        vals = np.cumsum(inc) + 100
    elif agg == "AVG":
        vals = rng.normal(20, 8, size=n).round(3)
    else:
        vals = rng.integers(-3, 4, size=n).astype("float64")
    return micros, vals


def _generate(seed=20241020):
    rng = np.random.default_rng(seed)
    rows = []
    for freq in FREQS:
        for i in range(SERIES_PER_FREQ):
            agg = AGGS[i % 3]
            micros, vals = _series(rng, freq, agg)
            rows.append(pd.DataFrame({
                "freq": freq,
                "url": f"f{freq}/{agg}/{i}",
                "warc_ts": pd.to_datetime(micros, unit="us"),
                "value": vals,
                "agg_func": agg,
            }))
    pdf = pd.concat(rows, ignore_index=True)
    return pdf.sample(frac=1.0, random_state=1).reset_index(drop=True)


def _expected(pdf):
    out = []
    for (freq, url, agg), g in pdf.groupby(["freq", "url", "agg_func"]):
        s = pd.Series(g["value"].to_numpy(), index=pd.DatetimeIndex(g["warc_ts"]))
        for gap in (None, freq):
            exp = K.harmonize_with_gaps(s, agg, freq, gap)
            out.append(pd.DataFrame({
                "freq": freq, "gap": -1 if gap is None else gap, "url": url,
                "start": exp.index.astype("datetime64[ns]"), "value": exp.to_numpy(),
            }))
    return pd.concat(out, ignore_index=True)


def test_rollup_native_fuzz_matches_oracle(spark):
    pdf = _generate()
    raw = spark.createDataFrame(pdf)
    cases = []
    for freq in FREQS:
        series = raw.where(F.col("freq") == freq)
        for gap in (None, freq):
            sess = sessionize(series, gap_seconds=gap)
            for chunk in CHUNKS:
                cases.append(
                    rollup_native(sess, freq_seconds=freq, chunk_windows=chunk)
                    .select(
                        F.lit(freq).alias("freq"),
                        F.lit(-1 if gap is None else gap).alias("gap"),
                        F.lit(chunk).alias("chunk"),
                        "url", "start", "value",
                    )
                )
    union = cases[0]
    for c in cases[1:]:
        union = union.unionByName(c)
    got = union.toPandas()
    got["start"] = got["start"].astype("datetime64[ns]")

    expected = _expected(pdf)
    keys = ["freq", "gap", "url", "start"]
    # every (tier, gap, agg) case compares windows, not empty with empty
    cases_seen = expected.groupby(["freq", "gap", expected["url"].str.split("/").str[1]])
    assert cases_seen.ngroups == len(FREQS) * 2 * len(AGGS)
    assert cases_seen.size().min() > 50 and len(expected) > 10_000
    assert tuple(sorted(got["chunk"].unique())) == CHUNKS
    for chunk, g in got.groupby("chunk"):
        m = g.merge(expected, on=keys, how="outer", suffixes=("_got", "_exp"),
                    indicator=True)
        only = m[m["_merge"] != "both"]
        assert only.empty, f"chunk_windows={chunk}: window sets differ\n" + (
            only[keys + ["_merge"]].head(10).to_string()
        )
        diff = (m["value_got"] - m["value_exp"]).abs()
        bad = m[~(diff <= 1e-9)]
        assert bad.empty, f"chunk_windows={chunk}: values differ\n" + (
            bad.head(10).to_string()
        )

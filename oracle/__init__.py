"""Vendored pandas oracle — the reference harmonizer's semantics as pure
pandas, used only by tests to pin the Spark engine (SURVEY.md §5).

The per-series kernels live in
``timeseries_harmonizer_spark.functions.series_kernels`` (the engine's
Arrow cleaner stages use the same kernels by design — that's the
exact-parity guarantee for the iterative operators). This module adds the
*whole-pipeline* oracle: dedup -> enrich -> convert -> sessionize ->
harmonize per url, independently of Spark, so the engine's native
closed-form paths are checked against a second implementation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from timeseries_harmonizer_spark.functions import series_kernels as K


def unit_convert(value, raw_ratio, harm_ratio, raw_offset, harm_offset) -> float:
    """Reference lib2/__init__.py:45-51 (falsy/NaN ratio -> 1, offset -> 0)."""
    def r(x):
        return float(x) if x and not (isinstance(x, float) and np.isnan(x)) else 1.0

    def o(x):
        return float(x) if x and not (isinstance(x, float) and np.isnan(x)) else 0.0

    return value * r(raw_ratio) / r(harm_ratio) + (o(raw_offset) - o(harm_offset))


def harmonize_pages(
    pages: pd.DataFrame,
    registry: pd.DataFrame,
    freq_seconds: int,
    gap_seconds: int | None,
    round_digits: int = 5,
) -> pd.DataFrame:
    """Full-pipeline oracle: returns (url, start, value) per tier window."""
    pdf = pages.copy()
    pdf["value"] = pdf["text"].str.len().astype("float64")
    pdf = pdf.sort_values("ingest_pos")
    pdf = pdf.drop_duplicates(subset=["url", "warc_ts"], keep="last")
    pdf = pdf.merge(registry, on="url", how="inner")
    pdf["value"] = [
        unit_convert(v, rr, hr, ro, ho)
        for v, rr, hr, ro, ho in zip(
            pdf["value"],
            pdf["raw_conv_ratio"],
            pdf["harm_conv_ratio"],
            pdf["raw_conv_offset"],
            pdf["harm_conv_offset"],
        )
    ]
    pdf = pdf.dropna(subset=["value"])
    out = []
    for url, grp in pdf.groupby("url"):
        grp = grp.sort_values("warc_ts")
        s = pd.Series(
            grp["value"].to_numpy(), index=pd.DatetimeIndex(grp["warc_ts"])
        )
        agg = grp["agg_func"].iloc[0]
        res = K.harmonize_with_gaps(s, agg, freq_seconds, gap_seconds)
        if res.empty:
            continue
        o = res.reset_index()
        o.columns = ["start", "value"]
        o["url"] = url
        out.append(o)
    if not out:
        return pd.DataFrame(columns=["url", "start", "value"])
    res = pd.concat(out, ignore_index=True)[["url", "start", "value"]]
    res["value"] = res["value"].round(round_digits)
    return res.sort_values(["url", "start"]).reset_index(drop=True)

"""D1/D2 keep-last dedup and R5 sessionization vs pandas oracle."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.functions import series_kernels as K
from timeseries_harmonizer_spark.operators.dedup import keep_last, keep_last_per_month
from timeseries_harmonizer_spark.operators.sessionize import sessionize


def test_keep_last(pages):
    got = keep_last(pages).groupBy("url", "warc_ts").count().where("count > 1").count()
    assert got == 0
    # oracle: pandas sort by ingest order then drop duplicates keep last
    pdf = pages.toPandas()
    pdf = pdf.sort_values("ingest_pos")
    expected = pdf.drop_duplicates(subset=["url", "warc_ts"], keep="last")
    got_pdf = keep_last(pages).toPandas()
    e = expected.sort_values(["url", "warc_ts"]).reset_index(drop=True)
    g = got_pdf.sort_values(["url", "warc_ts"]).reset_index(drop=True)
    assert len(e) == len(g)
    assert (e["ingest_pos"].to_numpy() == g["ingest_pos"].to_numpy()).all()


def test_keep_last_per_month(spark):
    pdf = pd.DataFrame(
        {
            "url": ["a"] * 4,
            "warc_ts": pd.to_datetime(
                ["2024-01-05", "2024-01-20", "2024-02-01", "2024-02-15"]
            ),
            "ingest_pos": [1, 2, 3, 4],
        }
    )
    df = spark.createDataFrame(pdf)
    out = keep_last_per_month(df).toPandas().sort_values("warc_ts")
    assert list(out["ingest_pos"]) == [2, 4]


def test_sessionize_matches_oracle(spark, pages):
    """The shared fixture at a 7200 s gap, and a sub-second series at a
    300 s gap: both sides measure gaps in whole floored seconds, so 5030.0
    -> 5330.3 s (300 s) and 5330.3 -> 5630.9 s (300 s) stay in one session
    and 5630.9 -> 5931.0 s (301 s) splits."""
    subsec = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": "subsec",
                "warc_ts": pd.to_datetime(
                    1704067200_000 + np.array([5030_000, 5330_300, 5630_900, 5931_000]),
                    unit="ms",
                ),
            }
        )
    )
    for df, gap in ((keep_last(pages), 7200), (subsec, 300)):
        got = (
            sessionize(df, gap_seconds=gap)
            .select("url", "warc_ts", "session_id")
            .toPandas()
            .sort_values(["url", "warc_ts"])
        )
        pdf = df.select("url", "warc_ts").toPandas()
        for url, grp in pdf.groupby("url"):
            grp = grp.sort_values("warc_ts")
            idx = pd.DatetimeIndex(grp["warc_ts"])
            expected = K.session_ids(idx, gap)
            g = got[got["url"] == url]["session_id"].to_numpy()
            assert (g == expected).all(), (url, g, expected)
        # at least one url actually splits (gaps are injected)
        assert got["session_id"].max() > 0
    assert got["session_id"].tolist() == [0, 0, 0, 1]  # the sub-second series

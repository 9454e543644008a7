"""Session (gap) splitting — R5 (SURVEY.md §2.5).

The reference splits each device series where consecutive timestamps are
more than ``gap_check`` seconds apart and harmonizes each continuous part
independently (reference harmonizers/__init__.py:358-369; thresholds
launcher_v2.py:22-28: 7200 s for fine tiers, None for coarse).

Spark-first: lag + cumulative-sum over a single per-key window — one
shuffle on the series key, no UDF, whole-stage codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def sessionize(
    df: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    gap_seconds: int | None = 7200,
    out_col: str = "session_id",
) -> DataFrame:
    """Assign a session id per (key) that increments when the gap to the
    previous row exceeds ``gap_seconds``. ``None`` -> single session.

    The gap is measured in whole seconds, between the floored epoch seconds
    (``unix_timestamp``) of the two rows: rows at 5030.0 s and 5330.3 s are
    300 s apart, so a 300 s gap does not split them. This is the unit of the
    contract's session SQL (``floor(epoch(ts))``) and of the pandas oracle's
    ``series_kernels.session_ids``."""
    if gap_seconds is None:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    w = W.partitionBy(key).orderBy(ts_col)
    ts_s = F.unix_timestamp(F.col(ts_col))
    is_new = F.when(
        ts_s - F.lag(ts_s).over(w) > F.lit(gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        out_col,
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )

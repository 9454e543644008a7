"""End-to-end tier pipeline (SURVEY.md §3 lifecycle, Spark-first).

scan -> extract -> dedup -> enrich (broadcast registry) -> unit convert ->
sessionize -> clean -> rollup -> shape points -> write tier payloads.

Stage boundaries are Catalyst's; the one explicit exchange is prepare's url
repartition, which every per-series stage downstream reuses. Each
fixed-width tier has one rollup path, the closed-form ``rollup_native``
pass; there is no Arrow stage on the points path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from timeseries_harmonizer_spark.config import N_BUCKETS, TIERS, VALUE_ROUND, TierConfig
from timeseries_harmonizer_spark.functions.extract import extract_text
from timeseries_harmonizer_spark.operators.cleaning import unit_convert
from timeseries_harmonizer_spark.operators.dedup import keep_last_sorted
from timeseries_harmonizer_spark.operators.rollup import continuous_aggregate, rollup_native
from timeseries_harmonizer_spark.operators.sessionize import sessionize


def prepare(pages: DataFrame, registry: DataFrame, tier: TierConfig) -> DataFrame:
    """scan -> extract -> prune -> ONE shuffle -> dedup -> enrich ->
    convert -> sessionize.

    Shuffle discipline (the 100 TB argument): the html binary never crosses
    a shuffle — extraction and column pruning happen map-side on the scan,
    so the single url-hash exchange carries only (url, ts, ingest_pos,
    value, lang). Dedup is a sorted-lag over the url partition (not a
    (url, ts)-keyed window), the registry join is broadcast, and every
    downstream per-series window / groupBy(url, ...) reuses the same
    partitioning via the subset rule — zero additional exchanges through
    rollup and payload aggregation.
    """
    df = pages.withColumn("text", extract_text(F.col("html")))
    df = df.withColumn("value", F.length("text").cast("double"))
    df = df.select("url", "warc_ts", "ingest_pos", "value", "lang")
    # the one exchange. r6: its WIDTH follows the session's shuffle-partition
    # setting (scale-adaptive: SPARK_GRAFT_SHUFFLE/cluster profile) instead
    # of the storage constant N_BUCKETS — on the 32-core bench host 64-wide
    # stages ran every window in two half-empty task waves (~10% of the
    # pass). The storage bucket ID (pmod(xxhash64(url), N_BUCKETS) in
    # shape_points) is a data VALUE and keeps N_BUCKETS regardless.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(width, "url")
    df = keep_last_sorted(df, key="url", ts_col="warc_ts", order_col="ingest_pos")
    df = df.join(F.broadcast(registry), "url", "inner")  # J1
    df = unit_convert(df)
    # P12: NaN drop at the stage boundary (reference harmonizers/__init__.py:347)
    # BEFORE sessionization, so null rows never define session boundaries.
    df = df.where(F.col("value").isNotNull())
    df = sessionize(df, key="url", ts_col="warc_ts", gap_seconds=tier.gap_seconds)
    return df


def rollup_points(prepared: DataFrame, tier: TierConfig) -> DataFrame:
    """Per-series rollup at the tier frequency, honoring each series'
    aggregation function: one ``rollup_native`` pass (closed form, see
    operators.rollup). SUM/AVG windows that pass the completeness gate
    always contain real observations -> is_real=True; LAST derives is_real
    per window (LOCF fills are False)."""
    return rollup_native(prepared, freq_seconds=tier.seconds, session_col="session_id")


def shape_points(
    points: DataFrame, registry: DataFrame, tier: TierConfig
) -> DataFrame:
    """S9: the harmonized point record (reference lib/__init__.py:133-166):
    end = start + freq - 1s, value round(5), series hash + property from the
    registry, storage bucket id."""
    from timeseries_harmonizer_spark.functions.extract import (
        strip_property_namespace,
    )

    out = points.join(F.broadcast(registry.select("url", "series_hash", "property")), "url")
    return out.select(
        F.col("url"),
        F.col("series_hash"),
        # P8: URI -> ontology local name (idempotent for bare names)
        strip_property_namespace(F.col("property")).alias("property"),
        F.lit(tier.name).alias("tier"),
        F.col("start"),
        (F.col("start") + F.expr(f"INTERVAL {tier.seconds - 1} SECONDS")).alias("end"),
        F.round(F.col("value"), VALUE_ROUND).alias("value"),
        F.col("is_real"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(N_BUCKETS)).cast("int").alias("bucket"),
    )


def tier_payloads(prepared: DataFrame, tier: TierConfig) -> DataFrame:
    """North-star continuous aggregate per (url, tier window)."""
    return continuous_aggregate(prepared, freq_seconds=tier.seconds).withColumn(
        "tier", F.lit(tier.name)
    )


def run_tier(
    pages: DataFrame,
    registry: DataFrame,
    tier_name: str = "1h",
) -> tuple[DataFrame, DataFrame]:
    """Full plan for one tier: returns (points, tier_payloads). The points
    are ``shape_points`` over the one ``rollup_points`` pass.

    Each returned frame is its own lineage from the scan: on the points
    path ``prepared`` has one consumer, the single rollup pass, so nothing
    is cached. A caller that acts on both frames runs prepare twice, or
    persists the inputs it shares."""
    tier = TIERS[tier_name]
    if tier.calendar:
        raise ValueError(
            f"tier {tier.name!r} has calendar windows: raw 1s-gated rollup is "
            "undefined for variable-length windows (the reference's "
            "pd.Timedelta('P1M') raises too, lib2/__init__.py:33). Calendar "
            "tiers are fed by the retention sweep (downsample from '1d') "
            "or the formula engine."
        )
    prepared = prepare(pages, registry, tier)
    pts = shape_points(rollup_points(prepared, tier), registry, tier)
    return pts, tier_payloads(prepared, tier)


def run_postprocessors(
    points: DataFrame,
    registry: DataFrame,
    tier_name: str = "1h",
    processors=None,
) -> dict[str, DataFrame]:
    """K4: run every registered :class:`PostProcessor` plugin over the
    tier's points (reference launcher invoking Processor.get_devices /
    process_device per post-process module). Each processor sees only the
    points of the systems it claims (broadcast semi-join on the registry
    dimension) and returns its update-only repair rows; results are keyed
    by processor name. New processors participate by registration alone —
    this function never changes."""
    from timeseries_harmonizer_spark.operators.postprocess import (
        registered_postprocessors,
    )

    out: dict[str, DataFrame] = {}
    for proc in processors if processors is not None else registered_postprocessors():
        systems = proc.get_systems(registry, tier_name)
        claimed = points.join(
            F.broadcast(systems.select("url").distinct()), "url", "left_semi"
        )
        out[proc.name] = proc.process(claimed, systems, tier_name)
    return out

"""spark-submit entry: one retention-tier run, checkpointed + resumable.

Usage:
  spark-submit --py-files timeseries_harmonizer_spark.zip jobs/run_tier.py \
      --tier 1h --warehouse /path/wh --run-id 2024-01-07T00 \
      [--input /path/web_pages.parquet [--registry /path/registry.parquet]
       [--ts-end 2024-01-07T00:00:00]] \
      [--n-urls 200 --points-per-url 500]

Input: ``--input`` points at an existing ``web_pages`` parquet/table and the
run reads only the tier's lookback window ending at ``--ts-end`` (default:
the input's max warc_ts) — the analog of the reference's windowed store read
(reference launcher_v2.py:50-58, ts_ini = ts_end - days_to_gather). The
window filter is applied before any other operator, so it pushes down to the
parquet scan. Without ``--input`` the synthetic generator is used.

Stages (each manifest-checkpointed; a re-run with the same run id skips
committed stages): points -> payloads -> compressed blobs -> retention sweep.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from timeseries_harmonizer_spark.config import TIERS  # noqa: E402
from timeseries_harmonizer_spark.operators.compress import compress_points  # noqa: E402
from timeseries_harmonizer_spark.operators.dedup import last_write_wins  # noqa: E402
from timeseries_harmonizer_spark.operators.retention import sweep_tier  # noqa: E402
from timeseries_harmonizer_spark.plans import pipeline  # noqa: E402
from timeseries_harmonizer_spark.plans.checkpoint import Manifest, StageRunner  # noqa: E402
from timeseries_harmonizer_spark.session import get_spark  # noqa: E402
from timeseries_harmonizer_spark.sources.tables import Catalog  # noqa: E402
from timeseries_harmonizer_spark.sources.webpages import registry, web_pages  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", default="1h", choices=list(TIERS))
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--input", default=None,
                    help="existing web_pages parquet/table (default: generator)")
    ap.add_argument("--registry", default=None,
                    help="existing registry parquet (default: derive from input)")
    ap.add_argument("--ts-end", default=None,
                    help="end of the lookback read window (default: max warc_ts)")
    ap.add_argument("--n-urls", type=int, default=100)
    ap.add_argument("--points-per-url", type=int, default=300)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"tier-{args.tier}", master=args.master)
    catalog = Catalog(args.warehouse)
    manifest = Manifest(os.path.join(args.warehouse, "_manifest.json"))
    runner = StageRunner(manifest, args.run_id, args.tier)
    tier = TIERS[args.tier]

    if args.input:
        pages = spark.read.parquet(args.input)
        ts_end = (
            pd.Timestamp(args.ts_end)
            if args.ts_end
            else pd.Timestamp(pages.agg(F.max("warc_ts")).first()[0])
        )
        # lookback window read (reference launcher_v2.py:50-58): a plain
        # range predicate on the scan so it reaches PushedFilters
        ts_ini = ts_end - tier.lookback
        pages = pages.where(
            (F.col("warc_ts") > F.lit(ts_ini.to_pydatetime()))
            & (F.col("warc_ts") <= F.lit(ts_end.to_pydatetime()))
        )
        reg = (
            spark.read.parquet(args.registry)
            if args.registry
            else registry(spark, pages, seed=args.seed)
        )
        watermark = ts_end
    else:
        pages = web_pages(
            spark, n_urls=args.n_urls, points_per_url=args.points_per_url, seed=args.seed
        )
        reg = registry(spark, pages, seed=args.seed)
        watermark = pages.agg(F.max("warc_ts")).first()[0]
    wm = str(watermark)

    prepared = pipeline.prepare(pages, reg, tier)

    def stage_points():
        pts = pipeline.shape_points(
            pipeline.rollup_points(prepared, tier), reg, tier
        ).withColumn("snapshot_id", F.lit(catalog.last_snapshot_id(f"points_{tier.name}") or 0) + 1)
        snap = catalog.write(
            f"points_{tier.name}", pts, mode="append", partition_by=["bucket"],
            watermark=wm, count_rows=True,
        )
        return snap, None

    def stage_payloads():
        pay = pipeline.tier_payloads(prepared, tier)
        return catalog.write(f"payloads_{tier.name}", pay, watermark=wm), None

    def stage_compress():
        pts = last_write_wins(
            catalog.read(spark, f"points_{tier.name}"),
            keys=("url", "start"), write_order_col="snapshot_id",
        )
        blobs = compress_points(pts.select("url", "start", "value"), tier.name)
        return catalog.write(f"blobs_{tier.name}", blobs, watermark=wm), None

    def stage_sweep():
        pts = last_write_wins(
            catalog.read(spark, f"points_{tier.name}"),
            keys=("url", "start"), write_order_col="snapshot_id",
        )
        coarse, retained = sweep_tier(
            pts, tier.name, pd.Timestamp(watermark), registry=reg
        )
        if TIERS[args.tier].coarser:
            catalog.write(f"points_{TIERS[args.tier].coarser}_from_sweep", coarse, mode="append", watermark=wm)
        return catalog.write(f"points_{tier.name}_retained", retained, watermark=wm), None

    runner.run("points", stage_points, watermark=wm)
    runner.run("payloads", stage_payloads, watermark=wm)
    runner.run("compress", stage_compress, watermark=wm)
    runner.run("sweep", stage_sweep, watermark=wm)
    print(f"tier {args.tier} run {args.run_id} complete")


if __name__ == "__main__":
    main()

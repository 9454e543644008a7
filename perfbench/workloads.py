"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

A workload object is built once per process. ``register`` is called after
every session (re)start; ``run_pass`` runs one closed-loop pass and returns
its committed point count; ``check`` verifies the last pass's output.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import shutil

import numpy as np
import pandas as pd

from bench_env import ROOT, WORK

ORACLE_SAMPLE_URLS = 20


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _blob_bytes(blobs) -> int:
    from pyspark.sql import functions as F

    row = blobs.agg(
        F.sum(F.length("ts_blob") + F.length("val_blob")).alias("b")
    ).first()
    return int(row["b"] or 0)


def _sorted_points(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["url", "start"], kind="mergesort").reset_index(drop=True)


def compare_exact(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Bit-for-bit equality of (url, start, value) point sets."""
    got, want = _sorted_points(got), _sorted_points(want)
    if len(got) != len(want):
        return f"exact: {len(got)} points decoded, {len(want)} shaped"
    if not (got["url"].to_numpy() == want["url"].to_numpy()).all():
        return "exact: url mismatch"
    if not (pd.DatetimeIndex(got["start"]) == pd.DatetimeIndex(want["start"])).all():
        return "exact: start mismatch"
    g = got["value"].to_numpy(dtype="float64").view(np.uint64)
    w = want["value"].to_numpy(dtype="float64").view(np.uint64)
    bad = int((g != w).sum())
    return f"exact: {bad} values differ" if bad else None


def compare_oracle(got: pd.DataFrame, want: pd.DataFrame, tol: float = 2e-5) -> str | None:
    """The parity suite's comparison: same keys, values within round(5)."""
    got, want = _sorted_points(got), _sorted_points(want)
    if len(got) != len(want):
        return f"oracle: {len(got)} points vs oracle {len(want)}"
    if not (got["url"].to_numpy() == want["url"].to_numpy()).all():
        return "oracle: url mismatch"
    if not (pd.DatetimeIndex(got["start"]) == pd.DatetimeIndex(want["start"])).all():
        return "oracle: start mismatch"
    g = got["value"].to_numpy(dtype="float64")
    e = want["value"].to_numpy(dtype="float64")
    ok = (np.isnan(g) & np.isnan(e)) | (np.abs(g - e) <= tol)
    return None if ok.all() else f"oracle: {int((~ok).sum())} values differ"


def corrupt_one_blob(blobs):
    """Flip one byte in the middle of the first value blob (self-test of
    the exact check)."""
    pdf = blobs.toPandas()
    b = bytearray(pdf.at[0, "val_blob"])
    b[len(b) // 2] ^= 0xFF
    pdf.at[0, "val_blob"] = bytes(b)
    return blobs.sparkSession.createDataFrame(pdf, schema=blobs.schema)


# (cadence class, aggregation function): the generator draws both per url,
# and both decide how much work a url makes (points per row, rollup branch)
N_STRATA = 3 * 3
# the pool every seed's inputs are drawn from: POOL_FACTOR x the urls a
# workload keeps, generated once per (workload, size) with this seed
POOL_FACTOR = 3
POOL_SEED = 0


def _url_strata(pages, reg):
    """(url, stratum) for every registered url. Cadence class from the
    median step: 30 s, 5 min or 1 h."""
    from pyspark.sql import Window, functions as F

    by_url = Window.partitionBy("url").orderBy("warc_ts")
    step = F.col("warc_ts").cast("long") - F.lag(F.col("warc_ts").cast("long")).over(by_url)
    cadence = (
        pages.select("url", step.alias("step"))
        .groupBy("url")
        .agg(F.percentile_approx("step", 0.5).alias("med"))
        .select(
            "url",
            F.when(F.col("med") < 150, 0).when(F.col("med") < 1500, 1).otherwise(2)
            .alias("cadence"),
        )
    )
    return cadence.join(reg.select("url", "agg_func"), "url").select(
        "url", F.concat_ws("/", F.col("cadence").cast("string"), "agg_func").alias("stratum")
    )


class Inputs:
    """web_pages + registry for one (workload, seed), materialised to
    parquet once and reused by every later run with the same key.

    A pool of ``POOL_FACTOR`` x the urls is generated once per (workload,
    size) and shared by every seed; the seed picks ``n_urls / 9`` urls of
    every (cadence, aggregation) stratum of it, so the work a pass does
    barely depends on the seed and a new seed costs a filter, not a
    generator run."""

    def __init__(self, name: str, n_urls: int, points_per_url: int, seed: int):
        self.seed = seed
        self.n_urls = n_urls
        self.points_per_url = points_per_url
        size = f"u{n_urls}-p{points_per_url}"
        self.pool_dir = os.path.join(WORK, "inputs", f"{name}-{size}-pool")
        self.dir = os.path.join(WORK, "inputs", f"{name}-{size}-s{seed}")
        self.pages_path = os.path.join(self.dir, "pages")
        self.registry_path = os.path.join(self.dir, "registry")
        self._meta_path = os.path.join(self.dir, "meta.json")

    def _ensure_pool(self, spark) -> None:
        done = os.path.join(self.pool_dir, "_DONE")
        if os.path.exists(done):
            return
        from timeseries_harmonizer_spark.sources.webpages import registry, web_pages

        shutil.rmtree(self.pool_dir, ignore_errors=True)
        web_pages(
            spark, n_urls=self.n_urls * POOL_FACTOR,
            points_per_url=self.points_per_url, seed=POOL_SEED,
        ).write.parquet(os.path.join(self.pool_dir, "pages"))
        pages = spark.read.parquet(os.path.join(self.pool_dir, "pages"))
        registry(spark, pages, seed=POOL_SEED).write.parquet(
            os.path.join(self.pool_dir, "registry"))
        reg = spark.read.parquet(os.path.join(self.pool_dir, "registry"))
        _url_strata(pages, reg).write.parquet(os.path.join(self.pool_dir, "strata"))
        open(done, "w").close()

    def ensure(self, spark) -> None:
        """Materialise this seed's inputs: the pool's parquet files, each
        filtered to the seed's urls with pyarrow, so a new seed costs no
        Spark job and keeps the pool's file layout."""
        if os.path.exists(self._meta_path):
            return
        import hashlib

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self._ensure_pool(spark)
        shutil.rmtree(self.dir, ignore_errors=True)
        strata = pq.read_table(os.path.join(self.pool_dir, "strata")).to_pandas()
        strata["order"] = [
            hashlib.blake2b(f"{self.seed}:{u}".encode(), digest_size=8).digest()
            for u in strata["url"]
        ]
        keep = (
            strata.sort_values(["stratum", "order", "url"])
            .groupby("stratum").head(self.n_urls // N_STRATA)["url"]
        )
        keep = pa.array(sorted(keep), pa.string())
        lo, rows = None, 0
        for src, dst in (("pages", self.pages_path), ("registry", self.registry_path)):
            os.makedirs(dst)
            for path in sorted(glob.glob(os.path.join(self.pool_dir, src, "part-*.parquet"))):
                table = pq.read_table(path)
                table = table.filter(pc.is_in(table["url"], value_set=keep))
                pq.write_table(table, os.path.join(dst, os.path.basename(path)))
                if src == "pages" and table.num_rows:
                    rows += table.num_rows
                    # naive UTC, as Spark hands timestamps to Python here
                    first = pc.min(table["warc_ts"]).as_py().replace(tzinfo=None)
                    lo = first if lo is None else min(lo, first)
        with open(self._meta_path, "w") as f:
            json.dump({"min_ts": str(lo), "rows": rows}, f)

    @property
    def meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def oracle_sample(self, spark, tier, pages=None):
        """(sample urls, oracle points) for a seeded sample of registered
        urls; ``pages`` restricts the input (default: all pages)."""
        import oracle
        from pyspark.sql import functions as F

        reg = spark.read.parquet(self.registry_path)
        urls = sorted(r["url"] for r in reg.select("url").collect())
        sample = random.Random(self.seed).sample(urls, min(ORACLE_SAMPLE_URLS, len(urls)))
        if pages is None:
            pages = spark.read.parquet(self.pages_path)
        pages_pdf = pages.where(F.col("url").isin(sample)).toPandas()
        reg_pdf = reg.where(F.col("url").isin(sample)).toPandas()
        want = oracle.harmonize_pages(pages_pdf, reg_pdf, tier.seconds, tier.gap_seconds)
        return sample, want


class TierWorkload:
    """One ``run_tier`` pass: input parquet -> points -> compress_points ->
    parquet blob write, as one terminal action (bench.py's flagship)."""

    def __init__(self, name: str, tier: str, n_urls: int, points_per_url: int, seed: int):
        from timeseries_harmonizer_spark.config import TIERS

        self.name = name
        self.tier = TIERS[tier]
        self.inputs = Inputs(name, n_urls, points_per_url, seed)
        self.out_dir = os.path.join(WORK, "out", name, "blobs")

    def register(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.inputs.pages_path)
        self.reg = spark.read.parquet(self.inputs.registry_path)
        self.reg.cache().count()

    def reset(self) -> None:
        """Between passes: drop the previous pass's persisted frame."""
        self.spark.catalog.clearCache()
        self.reg.cache().count()

    def warm_up(self) -> int:
        self.reset()
        return self.run_pass()

    def points(self):
        from timeseries_harmonizer_spark.plans import pipeline

        pts, _ = pipeline.run_tier(self.pages, self.reg, self.tier.name)
        return pts

    def blobs(self, pts):
        from timeseries_harmonizer_spark.operators.compress import compress_points

        return compress_points(pts.select("url", "start", "value"), self.tier.name)

    def run_pass(self) -> int:
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        pts = self.points().observe(obs, F.count(F.lit(1)).alias("n"))
        self.blobs(pts).write.mode("overwrite").parquet(self.out_dir)
        return int(obs.get["n"])

    def output_sizes(self) -> tuple[int, int]:
        """(blob bytes, bytes on disk) of the last pass."""
        return _blob_bytes(self.spark.read.parquet(self.out_dir)), dir_bytes(self.out_dir)

    def check(self, corrupt: bool = False) -> list[str]:
        from pyspark.sql import functions as F

        from timeseries_harmonizer_spark.operators.compress import decompress_points

        blobs = self.spark.read.parquet(self.out_dir)
        if corrupt:
            blobs = corrupt_one_blob(blobs)
        got = decompress_points(blobs).select("url", "start", "value").toPandas()
        self.reset()
        shaped = self.points().select("url", "start", "value").toPandas()
        problems = [compare_exact(got, shaped)]
        sample, want = self.inputs.oracle_sample(self.spark, self.tier)
        problems.append(compare_oracle(got[got["url"].isin(sample)], want))
        return [p for p in problems if p]


def load_run_tier_job():
    """``jobs/run_tier.py`` is a script, not a package module."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_run_tier_job", os.path.join(ROOT, "jobs", "run_tier.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CronWorkload:
    """A sequence of ``jobs/run_tier.py`` runs into a fresh warehouse with
    ``--ts-end`` advancing each run, then a resume of the last run id. It
    runs only inside the traced run of tier1m_dense (see tracing.py)."""

    STAGES = ("points", "payloads", "compress", "sweep")

    def __init__(self, name: str, tier: str, n_urls: int, points_per_url: int,
                 seed: int, run_days: tuple[int, ...]):
        from timeseries_harmonizer_spark.config import TIERS

        self.name = name
        self.tier = TIERS[tier]
        self.inputs = Inputs(name, n_urls, points_per_url, seed)
        self.run_days = run_days
        self.warehouse = os.path.join(WORK, "out", name, "warehouse")
        self.job = load_run_tier_job()
        self.run_s: list[float] = []
        self.last_run_s = 0.0

    def register(self, spark) -> None:
        self.spark = spark
        day0 = pd.Timestamp(self.inputs.meta["min_ts"]).floor("D")
        self.ts_ends = [str(day0 + pd.Timedelta(days=d)) for d in self.run_days]

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def _argv(self, k: int, warehouse: str) -> list[str]:
        return [
            "--tier", self.tier.name, "--warehouse", warehouse,
            "--run-id", f"run{k}", "--input", self.inputs.pages_path,
            "--registry", self.inputs.registry_path, "--ts-end", self.ts_ends[k],
        ]

    def warm_up(self) -> None:
        """One run of the job into a throw-away warehouse."""
        throwaway = self.warehouse + "-warmup"
        shutil.rmtree(throwaway, ignore_errors=True)
        self.job.main(self._argv(0, throwaway))
        shutil.rmtree(throwaway, ignore_errors=True)

    def _manifest(self):
        from timeseries_harmonizer_spark.plans.checkpoint import Manifest

        return Manifest(os.path.join(self.warehouse, "_manifest.json"))

    def run_pass(self) -> int:
        import time

        from timeseries_harmonizer_spark.sources.tables import Catalog

        self.run_s = []
        for k in range(len(self.ts_ends)):
            t0 = time.perf_counter()
            self.job.main(self._argv(k, self.warehouse))
            self.run_s.append(time.perf_counter() - t0)
        self.last_run_s = self.run_s[-1]
        self._committed = len(self._manifest().records())
        t0 = time.perf_counter()
        self.job.main(self._argv(len(self.ts_ends) - 1, self.warehouse))
        self.resume_s = time.perf_counter() - t0
        self._after_resume = len(self._manifest().records())
        snaps = Catalog(self.warehouse).snapshots(f"points_{self.tier.name}")
        return sum(s.rows for s in snaps)

    def manifest_problems(self) -> list[str]:
        recs = self._manifest().records()
        problems = []
        for k in range(len(self.ts_ends)):
            stages = {r.stage for r in recs if r.run_id == f"run{k}" and r.status == "COMMITTED"}
            if stages != set(self.STAGES):
                problems.append(f"manifest: run{k} committed {sorted(stages)}")
        if self._after_resume != self._committed:
            problems.append("manifest: resume run committed stages")
        return problems

    def check(self, corrupt: bool = False) -> list[str]:
        from pyspark.sql import functions as F

        from timeseries_harmonizer_spark.operators.compress import decompress_points
        from timeseries_harmonizer_spark.operators.dedup import last_write_wins
        from timeseries_harmonizer_spark.sources.tables import Catalog

        problems = self.manifest_problems()
        cat = Catalog(self.warehouse)
        blobs = cat.read(self.spark, f"blobs_{self.tier.name}")
        if corrupt:
            blobs = corrupt_one_blob(blobs)
        got = decompress_points(blobs).select("url", "start", "value").toPandas()
        points = cat.read(self.spark, f"points_{self.tier.name}")
        latest = last_write_wins(points, keys=("url", "start"), write_order_col="snapshot_id")
        problems.append(compare_exact(got, latest.select("url", "start", "value").toPandas()))
        # the last run's own snapshot vs the oracle over the same read window
        last = len(self.ts_ends) - 1
        ts_end = pd.Timestamp(self.ts_ends[last])
        window = self.spark.read.parquet(self.inputs.pages_path).where(
            (F.col("warc_ts") > F.lit((ts_end - self.tier.lookback).to_pydatetime()))
            & (F.col("warc_ts") <= F.lit(ts_end.to_pydatetime()))
        )
        sample, want = self.inputs.oracle_sample(self.spark, self.tier, pages=window)
        mine = (
            points.where((F.col("snapshot_id") == last + 1) & F.col("url").isin(sample))
            .select("url", "start", "value").toPandas()
        )
        problems.append(compare_oracle(mine, want))
        return [p for p in problems if p]


# name -> kwargs of the benchmark's workloads. Many urls keep the
# seed-to-seed spread of the work small: each url's cadence (30 s, 5 min
# or 1 h) is drawn from the seed, and at the 1m tier the 1 h urls make
# most of the points.
WORKLOADS = {
    "tier1h_scan": dict(tier="1h", n_urls=540, points_per_url=300),
    "tier1m_dense": dict(tier="1m", n_urls=1000, points_per_url=32),
}

# the checkpointed job sequence, run only inside tier1m_dense's traced run
CRON = "cron1m_incremental"
CRON_KWARGS = dict(tier="1m", n_urls=48, points_per_url=300, run_days=(2, 10))


def make(name: str, seed: int) -> TierWorkload:
    return TierWorkload(name, seed=seed, **WORKLOADS[name])


def make_cron(seed: int) -> CronWorkload:
    return CronWorkload(CRON, seed=seed, **CRON_KWARGS)

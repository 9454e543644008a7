"""Benchmark entry: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headliners cover the engine's core paths: tier window rollup, sessionize,
dense-grid LOCF, downsample, formula compile, doc dedup, jaccard,
cosine top-k, plus the flagship synthetic web_pages rollup (closed-form
native path) with compressed payload encode.

Burst discipline: this sandbox's host contention arrives in multi-minute
bursts that inflate WHOLE passes 1.5-3x (BENCH.md variance table), so every
timed pass is (a) gated on a cheap CPU idle probe — if the probe runs >1.4x
slower than the session's best, the pass is delayed and re-probed — and
(b) the flagship takes min-of-3. The flagship itself is ONE terminal action
(the blob write, with the point count folded in via observe()) so a burst
can never straddle two driver actions of the same pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation, functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from timeseries_harmonizer_spark.session import get_spark  # noqa: E402

HEADLINERS = [
    "q01_pricing_summary",
    "q04_tumbling_1h",
    "q08_sessionize",
    "q10_dense_locf",
    "q11_gapfill_interp",
    "q12_downsample_1d",
    "q25_formula_engine",
    "q27_doc_exact_dedup",
    "q32_ngram_jaccard",
    "q35_cosine_topk",
]

_best_probe: float | None = None
_probe_spark = None


def _probe_once() -> float:
    """Time a tiny ALL-CORES Spark job. A single-threaded Python busy loop
    misses this sandbox's dominant contention mode — bursts that starve the
    JVM's parallel task threads while a lone core still runs at full speed
    (observed: probe ratio 1.3 while the 32-thread flagship ran 3x slow) —
    so the probe must exercise the same resource the bench does."""
    n = _probe_spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    (
        _probe_spark.range(1 << 22, numPartitions=n)
        .selectExpr("sum(cast(id as double) * id) as s")  # double: no ANSI overflow
        .first()
    )
    return time.perf_counter() - t0


def wait_idle(max_tries: int = 6, slack: float = 1.35) -> float:
    """Gate a timed pass on the parallel-throughput probe. Returns the
    accepted probe/best ratio (1.0 = as idle as this session has seen)."""
    global _best_probe
    for attempt in range(max_tries):
        p = _probe_once()
        _best_probe = p if _best_probe is None or p < _best_probe else _best_probe
        if p <= _best_probe * slack:
            return round(p / _best_probe, 2)
        time.sleep(4.0 * (attempt + 1))
    return round(p / _best_probe, 2)


def run_count(df) -> int:
    return df.count()


def _gen_pages(spark, path: str, n_urls: int, points_per_url: int):
    """Materialize the synthetic table once so the timed path starts from a
    real parquet scan (generation is not the engine under test)."""
    from timeseries_harmonizer_spark.sources.webpages import registry, web_pages

    gen = web_pages(spark, n_urls=n_urls, points_per_url=points_per_url, seed=42)
    gen.write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    reg = registry(spark, pages, seed=42)
    return pages, reg


def flagship_rollup(
    spark,
    n_urls: int,
    points_per_url: int,
    passes: int = 3,
    warmup: bool = True,
    tag: str = "",
) -> tuple[int, float, float]:
    """Synthetic web_pages -> native tier rollup -> compressed payload write.
    ONE terminal action per pass: the blob write carries the point count as
    an observed metric (no separate pts.count()/payloads.count() actions —
    the continuous-aggregate payload branch is benched on its own as q04).
    Returns (points, best_seconds, worst_probe_ratio)."""
    from timeseries_harmonizer_spark.operators.compress import compress_points
    from timeseries_harmonizer_spark.plans import pipeline

    pages, reg = _gen_pages(
        spark, f"/tmp/bench_pages{tag}", n_urls, points_per_url
    )
    reg.cache().count()

    def once() -> int:
        # one rollup pass consumes `prepared`, and the shaped points have ONE
        # consumer here, so they stream straight into the compressor — no
        # persist, no extra action
        pts, _ = pipeline.run_tier(pages, reg, "1h")
        obs = Observation()
        pts = pts.observe(obs, F.count(F.lit(1)).alias("n"))
        blobs = compress_points(pts.select("url", "start", "value"), "1h")
        blobs.write.mode("overwrite").parquet(f"/tmp/bench_blobs{tag}")
        return int(obs.get["n"])

    if warmup:
        once()  # JIT/codegen warmup pass — steady-state is what scales
    best = None
    worst_ratio = 1.0
    n_points = 0
    for _ in range(passes):
        spark.catalog.clearCache()  # drop the warmup's persisted frames
        reg.cache().count()
        worst_ratio = max(worst_ratio, wait_idle())
        t0 = time.time()
        n_points = once()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return n_points, best, worst_ratio


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.1
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    global _probe_spark
    _probe_spark = spark
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    # one untimed warmup pass: JIT/codegen/scan-cache warmup otherwise lands
    # entirely on the first query (q01 was ~10s cold vs ~1.5s steady) —
    # steady-state is what a long-running cluster job actually sees
    run_count(qs[HEADLINERS[0]](spark, sf_dir))
    # min of 2 probed passes per query (the flagship gets 3; these are
    # 0.4-1.2s each, so a burst that beats the probe gate twice in a row is
    # already inside the noise floor BENCH.md documents)
    probe_ratios = {}
    for name in HEADLINERS:
        best, best_ratio = None, None
        for _ in range(2):
            ratio = wait_idle()  # may exceed the slack gate if tries exhaust
            t0 = time.time()
            run_count(qs[name](spark, sf_dir))
            dt = time.time() - t0
            if best is None or dt < best:
                best, best_ratio = dt, ratio
        timings[name] = round(best, 3)
        # the probe ratio the BEST pass ran under: >1.35 means the idle
        # gate timed out and this timing may be burst-inflated (ADVICE r4)
        probe_ratios[name] = best_ratio
    # flagship synthetic rollup, sized with sf (continuity config)
    n_urls = max(200, int(2000 * sf * 10))
    pts, dt, ratio = flagship_rollup(
        spark, n_urls=n_urls, points_per_url=300, passes=3
    )
    timings["flagship_webpages_rollup"] = round(dt, 3)
    total = round(sum(timings.values()), 3)
    # large-input flagship (~5M raw rows): steady-state throughput where a
    # single pass is long enough to amortize noise. Reported OUTSIDE
    # `queries`/`value` so totals stay comparable round-over-round.
    large = {}
    if os.environ.get("SPARK_GRAFT_SKIP_LARGE", "") != "1":
        lpts, ldt, lratio = flagship_rollup(
            spark, n_urls=5000, points_per_url=1000,
            passes=2, warmup=False, tag="_5m",
        )
        large = {
            "flagship_5m_raw_rows": 5_000_000,
            "flagship_5m_sec": round(ldt, 3),
            "flagship_5m_points": lpts,
            "flagship_5m_points_per_sec": round(lpts / ldt, 1),
            "flagship_5m_probe_ratio": lratio,
        }
    print(
        json.dumps(
            {
                "metric": "headline query suite + web_pages tier rollup, end-to-end",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "rollup_points": pts,
                "rollup_points_per_sec": round(pts / dt, 1),
                "flagship_probe_ratio": ratio,
                "probe_ratios": probe_ratios,
                "cpus": int(cpus),
                **large,
            }
        )
    )


if __name__ == "__main__":
    main()

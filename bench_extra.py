"""Round-6 optimization measurement harness (bench.py is frozen for the
driver; this file is free-form per the optimization brief).

Modes:
  python bench_extra.py queries [names...]   — noop-sink + count timing per headliner
  python bench_extra.py explain <out_dir>    — dump .explain("formatted") per query

Timing methodology mirrors bench.py: same session config, same sf dir, one
warmup, min-of-N. The noop sink isolates computation from the sink
(guide §1.4); count() matches what the frozen bench times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    sf = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
    return (
        get_spark(
            app_name="bench_extra",
            master=f"local[{CPUS}]",
            shuffle_partitions=int(CPUS),
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        ),
        sf,
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, passes=3) -> list[float]:
    out = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def mode_queries(names):
    spark, _ = _spark()
    qs = entrymod.queries()
    names = names or HEADLINERS
    # warmup (scan caches, codegen)
    qs[names[0]](spark, SF_DIR).count()
    res = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"count:{name}")
        cnt = _time(lambda: qs[name](spark, SF_DIR).count())
        spark.sparkContext.setJobDescription(f"noop:{name}")
        noop = _time(lambda: _noop(qs[name](spark, SF_DIR)))
        res[name] = {"count": cnt, "noop": noop,
                     "count_min": min(cnt), "noop_min": min(noop)}
        print(json.dumps({name: res[name]}), flush=True)
    print(json.dumps({"summary_count_min": {k: v["count_min"] for k, v in res.items()},
                      "summary_noop_min": {k: v["noop_min"] for k, v in res.items()}}))


def mode_explain(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    spark, sf = _spark()
    qs = entrymod.queries()
    for name in HEADLINERS:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}", flush=True)
    # flagship plan
    from timeseries_harmonizer_spark.operators.compress import compress_points
    from timeseries_harmonizer_spark.plans import pipeline
    from bench import _gen_pages

    pages, reg = _gen_pages(spark, "/tmp/bx_pages_e", max(200, int(2000 * sf * 10)), 300)
    pts, _ = pipeline.run_tier(pages, reg, "1h")
    blobs = compress_points(pts.select("url", "start", "value"), "1h")
    plan = blobs._sc._jvm.PythonSQLUtils.explainString(
        blobs._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(out_dir, "flagship_webpages_rollup.txt"), "w") as f:
        f.write(plan)
    print("wrote flagship", flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        mode_queries(sys.argv[2:])
    elif mode == "explain":
        mode_explain(sys.argv[2] if len(sys.argv) > 2 else "plans/r06/probe")
    else:
        raise SystemExit(f"unknown mode {mode}")

"""Checkpoint resume, retention sweep, PV repair."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.functions import series_kernels as K
from timeseries_harmonizer_spark.operators.postprocess import pv_postprocess
from timeseries_harmonizer_spark.operators.retention import sweep_tier
from timeseries_harmonizer_spark.plans.checkpoint import Manifest, StageRunner


def test_manifest_resume(tmp_path):
    m = Manifest(str(tmp_path / "manifest.json"))
    calls = []
    r = StageRunner(m, "run1", "1h")
    r.run("points", lambda: (calls.append("a"), 1)[1])
    r.run("points", lambda: (calls.append("b"), 2)[1])  # skipped
    assert calls == ["a"]
    assert m.is_done("run1", "points", "1h")
    assert not m.is_done("run2", "points", "1h")
    r2 = StageRunner(m, "run1", "1h")  # "restart": fresh runner, same file
    r2.run("points", lambda: (calls.append("c"), 3)[1])
    r2.run("payloads", lambda: (calls.append("d"), 4)[1])
    assert calls == ["a", "d"]
    recs = m.records()
    assert [x.stage for x in recs] == ["points", "payloads"]
    assert recs[0].snapshot_id == 1


def test_run_tier_job_resumes(tmp_path):
    """Kill-between-stages simulation through the spark-submit entry."""
    from jobs.run_tier import main

    wh = str(tmp_path / "wh")
    args = ["--tier", "1h", "--warehouse", wh, "--run-id", "r1",
            "--n-urls", "6", "--points-per-url", "40", "--master", "local[2]"]
    main(args)
    m = Manifest(wh + "/_manifest.json")
    recs1 = {x.stage for x in m.records()}
    assert recs1 == {"points", "payloads", "compress", "sweep"}
    # re-run same run-id: all stages skip -> no new snapshots
    from timeseries_harmonizer_spark.sources.tables import Catalog
    snaps_before = Catalog(wh).snapshots("points_1h")
    main(args)
    snaps_after = Catalog(wh).snapshots("points_1h")
    assert snaps_before == snaps_after
    assert len(m.records()) == 4


def test_run_tier_job_reads_input_table(tmp_path, spark, pages):
    """--input drives the job over an on-disk web_pages table with the
    tier's lookback window read (reference launcher_v2.py:50-58)."""
    import json
    import os

    from jobs.run_tier import main

    src = str(tmp_path / "web_pages_src")
    pages.write.parquet(src)
    wh = str(tmp_path / "wh")
    main(["--tier", "1h", "--warehouse", wh, "--run-id", "r-in",
          "--input", src, "--master", "local[2]"])
    m = Manifest(wh + "/_manifest.json")
    assert {x.stage for x in m.records()} == {"points", "payloads", "compress", "sweep"}
    from timeseries_harmonizer_spark.sources.tables import Catalog
    assert Catalog(wh).snapshots("points_1h")  # points came from the on-disk table


def test_diff_series_cli(tmp_path, spark, pages):
    """The recompute-and-diff debug CLI: MATCH (exit 0) against a freshly
    written warehouse, DRIFT (exit 1) after a corrupting snapshot lands —
    the reference's debug-tool recompute discipline as an operator entry
    point."""
    import scripts.diff_series as ds
    from jobs.run_tier import main
    from timeseries_harmonizer_spark.sources.tables import Catalog

    src = str(tmp_path / "pages_src")
    pages.write.parquet(src)
    wh = str(tmp_path / "wh")
    main(["--tier", "1h", "--warehouse", wh, "--run-id", "r-diff",
          "--input", src, "--master", "local[2]"])
    # deterministically pick a url that actually HAS stored points (some
    # generator urls are all-malformed and produce none; DataFrame.first()
    # on an unsorted frame is also order-nondeterministic)
    url = (
        Catalog(wh).read(spark, "points_1h")
        .agg(F.min("url")).first()[0]
    )
    base = ["--warehouse", wh, "--input", src, "--url", url,
            "--tier", "1h", "--master", "local[2]"]
    assert ds.main(base) == 0
    # corrupt one stored window via a newer snapshot (last-write-wins reads
    # will surface it) and expect the diff to flag exactly that drift
    cat = Catalog(wh)
    pts = cat.read(spark, "points_1h")
    bad = (
        pts.where(F.col("url") == url)
        .orderBy("start")
        .limit(1)
        .withColumn("value", F.col("value") + 100.0)
        .withColumn("snapshot_id", F.lit(10**6))
    )
    cat.write("points_1h", bad, mode="append", partition_by=["bucket"])
    assert ds.main(base) == 1


def test_copy_table_tool(tmp_path, spark):
    """S11 table surgery: export backs rows up, delete rewrites the table
    without them (staged-swap snapshot), migrate re-keys them to a new url
    with a recomputed bucket."""
    import scripts.copy_table as ct
    from timeseries_harmonizer_spark.sources.tables import Catalog

    wh = str(tmp_path / "wh")
    idx = pd.date_range("2024-01-01", periods=48, freq="1h")
    pdf = pd.concat(
        [
            pd.DataFrame({"url": u, "start": idx, "value": np.arange(48.0),
                          "bucket": b, "snapshot_id": 1})
            for u, b in [("u1", 0), ("u2", 1)]
        ]
    )
    cat = Catalog(wh)
    cat.write("points_1h", spark.createDataFrame(pdf), partition_by=["bucket"])
    base = ["--warehouse", wh, "--table", "points_1h", "--master", "local[2]"]

    out = str(tmp_path / "backup.parquet")
    assert ct.main(["export", *base, "--url", "u1",
                    "--ts-end", "2024-01-02", "--out", out]) == 0
    assert len(pd.read_parquet(out)) == 24  # first day only

    assert ct.main(["delete", *base, "--url", "u1", "--ts-end", "2024-01-02"]) == 0
    after = cat.read(spark, "points_1h").toPandas()
    assert len(after) == 96 - 24
    assert (after[after["url"] == "u1"]["start"] >= pd.Timestamp("2024-01-02")).all()
    assert len(after[after["url"] == "u2"]) == 48  # untouched
    assert cat.snapshots("points_1h")[-1].mode == "rewrite"

    assert ct.main(["migrate", *base, "--url", "u2", "--to-url", "u3"]) == 0
    final = cat.read(spark, "points_1h").toPandas()
    u3 = final[final["url"] == "u3"]
    assert len(u3) == 48
    assert u3["bucket"].nunique() == 1 and u3["bucket"].iloc[0] != 1  # re-keyed


def test_sweep_downsamples_expired(spark):
    # 1m-tier points spanning 10 days; retention 7d -> first ~3d downsampled to 1h
    idx = pd.date_range("2024-01-01", periods=10 * 1440, freq="1min")
    pdf = pd.DataFrame({
        "url": "u1",
        "start": idx,
        "value": np.ones(len(idx)),
        "agg_func": "SUM",
    })
    pts = spark.createDataFrame(pdf)
    now = idx[-1]
    coarse, retained = sweep_tier(pts, "1m", now)
    c = coarse.orderBy("start").toPandas()
    r = retained.toPandas()
    # the cutoff floors to the coarse (1h) window boundary: only COMPLETE
    # hours are swept, the boundary hour stays in the fine tier
    cutoff = (now - pd.Timedelta(days=7)).floor("1h")
    assert (pd.DatetimeIndex(r["start"]) >= cutoff).all()
    # every expired minute lands in exactly one coarse sum (value=1 each)
    assert c["value"].sum() == len(pdf) - len(r)
    assert (c["value"] == 60.0).all()  # EVERY swept window is complete
    assert (c["tier"] == "1h").all()


def test_sweep_idempotent(spark):
    idx = pd.date_range("2024-01-01", periods=2 * 1440, freq="1min")
    pdf = pd.DataFrame({"url": "u", "start": idx, "value": np.arange(len(idx), dtype="float64"), "agg_func": "AVG"})
    pts = spark.createDataFrame(pdf)
    now = idx[-1] + pd.Timedelta(days=7)
    c1, _ = sweep_tier(pts, "1m", now)
    c2, _ = sweep_tier(pts, "1m", now)
    a = c1.orderBy("start").toPandas()
    b = c2.orderBy("start").toPandas()
    assert a.equals(b)


def test_pv_kernel_redistributes():
    idx = pd.date_range("2024-01-01", periods=7, freq="1h")
    gen = pd.Series([10.0, 10, 10, 10, 10, 10, 10], index=idx)
    exp = pd.Series([5.0, 5, 5, 25, 5, 5, 5], index=idx)  # over-export @3 by 15
    update, rep = K.pv_energy_balance(gen, exp)
    assert update
    # total exported preserved (redistribution, not loss)
    assert np.isclose(rep.sum(), exp.sum())
    assert rep.iloc[3] == 10.0  # capped at gen
    assert (rep <= gen + 1e-9).all()


def test_pv_kernel_rollback_nulls():
    idx = pd.date_range("2024-01-01", periods=3, freq="1h")
    gen = pd.Series([1.0, 1.0, 1.0], index=idx)
    exp = pd.Series([1.0, 100.0, 1.0], index=idx)  # excess can't be absorbed
    update, rep = K.pv_energy_balance(gen, exp)
    assert update
    assert np.isnan(rep.iloc[1])
    # rollback restored neighbors
    assert rep.iloc[0] == 1.0 and rep.iloc[2] == 1.0


def test_pv_spark_stage(spark):
    idx = pd.date_range("2024-01-01", periods=6, freq="1h")
    gen = pd.DataFrame({"system": "s1", "start": idx, "value": [10.0] * 6})
    exp = pd.DataFrame({"system": "s1", "start": idx, "value": [5.0, 5, 20, 5, 5, 5]})
    # second system needs no repair -> omitted
    gen2 = gen.assign(system="s2")
    exp2 = exp.assign(system="s2", value=[1.0] * 6)
    out = pv_postprocess(
        spark.createDataFrame(pd.concat([gen, gen2])),
        spark.createDataFrame(pd.concat([exp, exp2])),
    ).toPandas()
    assert set(out["system"]) == {"s1"}
    g = pd.Series([10.0] * 6).to_numpy()
    got = out.sort_values("start")["value"].to_numpy()
    eu, er = K.pv_energy_balance(
        pd.Series([10.0] * 6, index=idx), pd.Series([5.0, 5, 20, 5, 5, 5], index=idx)
    )
    assert np.allclose(got, er.to_numpy(), equal_nan=True)


def test_postprocessor_plugin_registry(spark, pages, reg):
    """K4 protocol: a NEW processor participates via registration alone —
    run_postprocessors picks it up without any pipeline change — and the
    built-in PV energy-balance registrant runs over the points it claims."""
    from pyspark.sql import DataFrame, functions as F

    from timeseries_harmonizer_spark.operators import postprocess as PP
    from timeseries_harmonizer_spark.plans import pipeline

    pts, _ = pipeline.run_tier(pages, reg, "1h")

    class NightZeroToy(PP.PostProcessor):
        name = "night_zero_toy"

        def get_systems(self, registry, tier_name):
            return registry.where(F.col("property") == "Status")

        def process(self, points, systems, tier_name):
            return points.where(F.hour("start") < 6).select(
                "url", "start", F.lit(0.0).alias("value")
            )

    PP.register_postprocessor(NightZeroToy())
    try:
        results = pipeline.run_postprocessors(pts, reg, "1h")
        assert set(results) >= {"pv_energy_balance", "night_zero_toy"}
        toy = results["night_zero_toy"].toPandas()
        # the toy only ever saw Status systems, only emitted night hours
        status_urls = set(
            reg.where("property = 'Status'").toPandas()["url"]
        )
        assert set(toy["url"]) <= status_urls
        assert (toy["value"] == 0.0).all()
        assert isinstance(results["pv_energy_balance"], DataFrame)
        pv = results["pv_energy_balance"]
        assert pv.columns == ["system", "start", "value"]
        pv.count()  # materializes the PV plan end-to-end
    finally:
        PP.unregister_postprocessor("night_zero_toy")

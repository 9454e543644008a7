"""Formula engine F1-F9: precedence, parens, constants, CLIP/ABS/HE,
cross-freq alignment, dependency levels, compliance limits (FIXTURES.md §D)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.plans.formula import (
    FormulaEngine,
    SeriesRef,
    harmonize_limits,
    order_by_dependencies,
)

T0 = pd.Timestamp("2024-01-01 00:00:00")
H = 3600


def _series(spark, values, freq_s=H, start=T0):
    idx = pd.date_range(start, periods=len(values), freq=pd.Timedelta(seconds=freq_s))
    pdf = pd.DataFrame({"start": idx, "value": np.array(values, dtype="float64")})
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def engine(spark):
    a = _series(spark, [1, 2, 3, 4, 5, 6])
    b = _series(spark, [10, 20, 30, 40, 50, 60])
    daily = _series(spark, [240.0], freq_s=86400)  # one day covering the range
    fine = _series(spark, [1, 1, 2, 2, 3, 3] * 12, freq_s=300)  # 5-min series
    return FormulaEngine(
        spark,
        series={
            "A": SeriesRef(a, H, "AVG"),
            "B": SeriesRef(b, H, "AVG"),
            "SUMD": SeriesRef(daily, 86400, "SUM"),
            "FINE_SUM": SeriesRef(fine, 300, "SUM"),
            "FINE_AVG": SeriesRef(fine, 300, "AVG"),
        },
        scalar_queries={"q1": 7.0},
    )


def _vals(df):
    return df.orderBy("start").toPandas()["value"].to_numpy()


def test_precedence(engine):
    # A + B * 2  ->  mul before add
    xml = "<mh>A</mh><mo>+</mo><mh>B</mh><mo>*</mo><mv>2</mv>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    exp = np.array([1, 2, 3, 4, 5, 6]) + np.array([10, 20, 30, 40, 50, 60]) * 2
    assert np.allclose(got, exp)


def test_parentheses(engine):
    # (A + B) * 2 via mbr
    xml = "<mbr><mh>A</mh><mo>+</mo><mh>B</mh></mbr><mo>*</mo><mv>2</mv>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    exp = (np.array([1, 2, 3, 4, 5, 6]) + np.array([10, 20, 30, 40, 50, 60])) * 2
    assert np.allclose(got, exp)


def test_left_assoc_division(engine):
    # B / A / 2 evaluated left to right
    xml = "<mh>B</mh><mo>/</mo><mh>A</mh><mo>/</mo><mv>2</mv>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    exp = np.array([10, 20, 30, 40, 50, 60]) / np.array([1, 2, 3, 4, 5, 6]) / 2
    assert np.allclose(got, exp)


def test_constants_and_scalar_query(engine):
    xml = "<mh>A</mh><mo>*</mo><mc>HOUSE_FACTOR</mc><mo>+</mo><mq>q1</mq>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    exp = np.array([1, 2, 3, 4, 5, 6]) * 8.76 + 7.0
    assert np.allclose(got, exp)


def test_abs_and_clip(engine):
    xml = (
        "<fun><fop>CLIP</fop>"
        "<fpar><mv>2</mv></fpar><fpar><mv>4</mv></fpar>"
        "<fpar><fun><fop>ABS</fop><fpar><mh>A</mh><mo>-</mo><mv>10</mv></fpar></fun></fpar>"
        "</fun>"
    )
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    exp = np.clip(np.abs(np.array([1, 2, 3, 4, 5, 6]) - 10), 2, 4)
    assert np.allclose(got, exp)


def test_he_hysteresis(engine, spark):
    # parent crosses the [summer_max=3, winter_min=4] band: carry in between
    eng = FormulaEngine(
        spark,
        series={
            "P": SeriesRef(_series(spark, [1, 3.5, 5, 3.5, 2, 3.5]), H, "AVG"),
            "S": SeriesRef(_series(spark, [3] * 6), H, "AVG"),
            "W": SeriesRef(_series(spark, [4] * 6), H, "AVG"),
        },
        # reference __he__ evaluates [ts_end - warmup, ts_end] only; a 1-day
        # warmup keeps the eval grid small while still covering the query
        he_warmup_days=1,
    )
    xml = (
        "<fun><fop>HE</fop><fpar><mh>S</mh></fpar><fpar><mh>W</mh></fpar>"
        "<fpar><mh>P</mh></fpar></fun>"
    )
    got = _vals(eng.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    # 1<3 -> 1; 3.5 in band -> carry 1; 5>4 -> 0; 3.5 -> carry 0; 2<3 -> 1; 3.5 -> carry 1
    assert np.allclose(got, [1, 1, 0, 0, 1, 1])


def test_downsample_alignment(engine):
    # FINE_SUM (5-min, SUM) referenced at 1h -> sums of 12 slots
    xml = "<mh>FINE_SUM</mh>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    fine = np.array([1, 1, 2, 2, 3, 3] * 12, dtype="float64")
    exp = fine.reshape(6, 12).sum(axis=1)
    assert np.allclose(got, exp)


def test_upsample_sum_split(engine):
    # SUMD (daily SUM of 240) at 1h over a 6-hour query: the reference
    # divides by the number of *queried* grid slots the source point covers
    # (reference lib2/calculate_formulas.py:187-190), i.e. 240/6, not 240/24.
    xml = "<mh>SUMD</mh>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
    assert np.allclose(got, [40.0] * 6)


def test_upsample_sum_split_full_span(engine, spark):
    # over the full covered day, each hourly slot gets 240/24
    xml = "<mh>SUMD</mh>"
    got = _vals(engine.evaluate(xml, T0, T0 + pd.Timedelta(hours=23), H))
    assert np.allclose(got, [10.0] * 24)


def test_missing_rows_propagate_null(engine, spark):
    sparse = _series(spark, [1.0, 2.0])  # only 2 of 6 grid hours
    eng = FormulaEngine(
        spark, series={"S": SeriesRef(sparse, H, "AVG"), "B": engine.series["B"]}
    )
    xml = "<mh>S</mh><mo>+</mo><mh>B</mh>"
    out = eng.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H).orderBy("start").toPandas()
    assert out["value"].notna().sum() == 2
    assert len(out) == 6


def test_clip_null_input_stays_null(engine, spark):
    # pandas clip keeps NaN as NaN (dropped at emit); Spark least/greatest
    # skip NULLs, which would fabricate the bound as the value
    sparse = _series(spark, [1.0, 10.0])  # only 2 of 6 grid hours
    eng = FormulaEngine(spark, series={"S": SeriesRef(sparse, H, "AVG")})
    xml = (
        "<fun><fop>CLIP</fop>"
        "<fpar><mv>2</mv></fpar><fpar><mv>4</mv></fpar>"
        "<fpar><mh>S</mh></fpar></fun>"
    )
    out = eng.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H).orderBy("start").toPandas()
    assert len(out) == 6
    vals = out["value"].to_numpy()
    assert np.allclose(vals[:2], [2.0, 4.0])
    assert np.isnan(vals[2:]).all()


def test_he_range_pinned_to_tail(engine, spark):
    # HE evaluates only [ts_end - warmup, ts_end] (reference __he__): a query
    # reaching further back yields no rows before that boundary
    vals = [1.0] * 12
    eng = FormulaEngine(
        spark,
        series={
            "P": SeriesRef(_series(spark, vals), H, "AVG"),
            "S": SeriesRef(_series(spark, [3.0] * 12), H, "AVG"),
            "W": SeriesRef(_series(spark, [4.0] * 12), H, "AVG"),
        },
        he_warmup_days=0.25,  # 6 h warmup
    )
    xml = (
        "<fun><fop>HE</fop><fpar><mh>S</mh></fpar><fpar><mh>W</mh></fpar>"
        "<fpar><mh>P</mh></fpar></fun>"
    )
    out = eng.evaluate(xml, T0, T0 + pd.Timedelta(hours=11), H).orderBy("start").toPandas()
    # ts_end - 6h = T0+5h: only slots 5..11 exist
    assert out["start"].min() == T0 + pd.Timedelta(hours=5)
    assert len(out) == 7


def test_upsample_plans_no_nested_loop(engine):
    # the slot-explode upsample must plan as an equi-join, never as a
    # BroadcastNestedLoopJoin (O(|grid|*|src|))
    xml = "<mh>SUMD</mh><mo>+</mo><mh>A</mh>"
    plan = engine.evaluate(
        xml, T0, T0 + pd.Timedelta(hours=23), H
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_evaluate_many_matches_per_device(spark):
    # one formula template, 120 devices, ONE Spark plan (the reference loops
    # devices on the driver); spot devices must match single-device eval
    n_dev = 120
    rng = np.random.default_rng(5)
    rows_p, rows_q = [], []
    for d in range(n_dev):
        name = f"dev{d:03d}"
        for i, v in enumerate(rng.normal(10, 2, 6).round(3)):
            rows_p.append((name, T0 + pd.Timedelta(hours=i), float(v)))
        rows_q.append((name, T0, round(float(rng.normal(240, 10)), 3)))
    p = spark.createDataFrame(pd.DataFrame(rows_p, columns=["device", "start", "value"]))
    q = spark.createDataFrame(pd.DataFrame(rows_q, columns=["device", "start", "value"]))
    eng = FormulaEngine(
        spark, series={"P": SeriesRef(p, H, "AVG"), "Q": SeriesRef(q, 86400, "SUM")}
    )
    xml = "<mh>P</mh><mo>+</mo><mh>Q</mh><mo>*</mo><mv>2</mv>"
    many = eng.evaluate_many(
        xml, T0, T0 + pd.Timedelta(hours=5), H, keys=["device"]
    ).toPandas()
    assert len(many) == n_dev * 6
    for d in ["dev000", "dev057", "dev119"]:
        single = FormulaEngine(
            spark,
            series={
                "P": SeriesRef(p.where(F.col("device") == d).drop("device"), H, "AVG"),
                "Q": SeriesRef(q.where(F.col("device") == d).drop("device"), 86400, "SUM"),
            },
        )
        s = _vals(single.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H))
        m = (
            many[many["device"] == d]
            .sort_values("start")["value"]
            .to_numpy(dtype="float64")
        )
        np.testing.assert_allclose(m, s, rtol=0, atol=1e-9)


def test_evaluate_many_he_partitioned(spark):
    # HE across devices: LOCF carry must stay within each device, and the
    # window must be key-partitioned (no single-partition global sort)
    pat = [1.0, 3.5, 5.0, 3.5, 2.0, 3.5]
    rows = [
        (dev, T0 + pd.Timedelta(hours=i), v * mult)
        for dev, mult in [("a", 1.0), ("b", 1.0)]
        for i, v in enumerate(pat)
    ]
    p = spark.createDataFrame(pd.DataFrame(rows, columns=["device", "start", "value"]))
    s = p.select("device", "start", F.lit(3.0).alias("value"))
    w = p.select("device", "start", F.lit(4.0).alias("value"))
    eng = FormulaEngine(
        spark,
        series={
            "P": SeriesRef(p, H, "AVG"),
            "S": SeriesRef(s, H, "AVG"),
            "W": SeriesRef(w, H, "AVG"),
        },
        he_warmup_days=1,
    )
    xml = (
        "<fun><fop>HE</fop><fpar><mh>S</mh></fpar><fpar><mh>W</mh></fpar>"
        "<fpar><mh>P</mh></fpar></fun>"
    )
    out = eng.evaluate_many(xml, T0, T0 + pd.Timedelta(hours=5), H, keys=["device"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(device" in plan  # HE window is key-partitioned
    pdf = out.toPandas()
    for dev in ["a", "b"]:
        got = pdf[pdf["device"] == dev].sort_values("start")["value"].to_numpy()
        assert np.allclose(got, [1, 1, 0, 0, 1, 1])


def test_nearest_frequency_candidate_selection(engine, spark):
    # F3: a leaf backed by several stored frequencies picks the candidate
    # nearest the target; empty candidates are skipped; all-empty -> NULLs
    hourly = _series(spark, [1, 2, 3, 4, 5, 6])
    daily = _series(spark, [240.0], freq_s=86400)
    empty_hourly = hourly.where("1=0")
    xml = "<mh>X</mh>"

    def run(cands):
        eng = FormulaEngine(spark, series={"X": cands})
        return eng.evaluate(xml, T0, T0 + pd.Timedelta(hours=5), H).orderBy("start").toPandas()

    # nearest (hourly) wins over daily for a 1h target
    out = run([SeriesRef(daily, 86400, "SUM"), SeriesRef(hourly, H, "AVG")])
    assert np.allclose(out["value"], [1, 2, 3, 4, 5, 6])
    # nearest is empty -> falls back to the daily candidate (upsample-split)
    out = run([SeriesRef(daily, 86400, "SUM"), SeriesRef(empty_hourly, H, "AVG")])
    assert np.allclose(out["value"], [40.0] * 6)
    # every candidate empty -> all-NaN leaf, grid rows preserved
    out = run([SeriesRef(empty_hourly, H, "AVG")])
    assert len(out) == 6 and out["value"].isna().all()


def test_calendar_upsample_asof_and_plan(spark):
    """P1W grid over a P1M SUM source: each week slot as-of-attaches the
    latest monthly point and the SUM splits across the weeks that claimed
    it — and the plan is the union+LOCF asof join, never a nested loop."""
    monthly = spark.createDataFrame(
        pd.DataFrame(
            {
                "start": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-02-01")],
                "value": [310.0, 290.0],
            }
        )
    )
    eng = FormulaEngine(spark, series={"M": SeriesRef(monthly, "P1M", "SUM")})
    q = eng.evaluate(
        "<mh>M</mh>", pd.Timestamp("2024-01-01"), pd.Timestamp("2024-02-15"), "P1W"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    out = q.orderBy("start").toPandas()
    # Mondays Jan 1..Feb 12: five weeks claim the Jan point (310/5), two
    # claim the Feb point (290/2)
    np.testing.assert_allclose(out["value"].to_numpy(), [62.0] * 5 + [145.0] * 2)


def test_evaluate_many_per_key_candidate_resolution(spark):
    """F3 x evaluate_many: device 'a' stores X hourly, device 'b' only
    daily. Resolution must happen PER DEVICE (like the reference's loop):
    'a' reads the hourly series, 'b' upsample-splits its daily one — a
    global pick would leave 'b' all-NULL. Also covers the default keys_df
    derivation with a list-valued leaf (used to raise AttributeError)."""
    hourly = spark.createDataFrame(
        pd.DataFrame(
            {
                "device": "a",
                "start": [T0 + pd.Timedelta(hours=i) for i in range(6)],
                "value": [1.0, 2, 3, 4, 5, 6],
            }
        )
    )
    daily = spark.createDataFrame(
        pd.DataFrame({"device": ["b"], "start": [T0], "value": [240.0]})
    )
    eng = FormulaEngine(
        spark,
        series={
            "X": [SeriesRef(hourly, H, "AVG"), SeriesRef(daily, 86400, "SUM")]
        },
    )
    out = (
        eng.evaluate_many(
            "<mh>X</mh><mo>*</mo><mv>2</mv>",
            T0,
            T0 + pd.Timedelta(hours=5),
            H,
            keys=["device"],
        )
        .orderBy("device", "start")
        .toPandas()
    )
    a = out[out["device"] == "a"]["value"].to_numpy()
    b = out[out["device"] == "b"]["value"].to_numpy()
    np.testing.assert_allclose(a, [2.0, 4, 6, 8, 10, 12])
    # daily 240 upsample-splits across the 6 evaluated grid slots (clamped
    # to the span, same as test_nearest_frequency_candidate_selection's
    # 40/slot), times 2
    np.testing.assert_allclose(b, [80.0] * 6)


def test_order_by_dependencies():
    formulas = {
        "X": "<mh>A</mh><mo>+</mo><mh>B</mh>",
        "Y": "<mh>X</mh><mo>*</mo><mv>2</mv>",
        "Z": "<mh>Y</mh><mo>-</mo><mh>X</mh>",
        "W": "<mv>5</mv>",
    }
    levels = order_by_dependencies(formulas)
    assert levels == [["W", "X"], ["Y"], ["Z"]]


def test_harmonize_limits(engine, spark):
    measurement = _series(spark, [1, 5, 10, 15, 20, 25])
    got = harmonize_limits(
        engine,
        measurement,
        lower_activation_xml="<mv>1</mv>",
        lower_formula_xml="<mv>4</mv>",
        upper_activation_xml="<mv>1</mv>",
        upper_formula_xml="<mv>16</mv>",
        ts_ini=T0,
        ts_end=T0 + pd.Timedelta(hours=5),
        freq=H,
    )
    out = got.orderBy("start").toPandas()["value"].to_numpy()
    assert np.allclose(out, [0, 1, 1, 1, 0, 0])


def test_limits_activation_zero_drops(engine, spark):
    measurement = _series(spark, [1, 5, 10, 15, 20, 25])
    got = harmonize_limits(
        engine,
        measurement,
        lower_activation_xml="<mv>0</mv>",  # never active -> empty result
        lower_formula_xml="<mv>4</mv>",
        upper_activation_xml="<mv>1</mv>",
        upper_formula_xml="<mv>16</mv>",
        ts_ini=T0,
        ts_end=T0 + pd.Timedelta(hours=5),
        freq=H,
    )
    assert got.count() == 0


def test_evaluate_many_he_with_multifreq_leaf(spark):
    """Interaction coverage: HE formula x F3 list-valued leaf x
    evaluate_many. Device 'a' stores the monitored series hourly, device
    'b' only daily (constant) — per-key resolution must feed the HE
    hysteresis its own device's series, and the LOCF carry must stay
    keyed."""
    pat = [1.0, 3.5, 5.0, 3.5, 2.0, 3.5]
    hourly = spark.createDataFrame(
        pd.DataFrame(
            {
                "device": "a",
                "start": [T0 + pd.Timedelta(hours=i) for i in range(6)],
                "value": pat,
            }
        )
    )
    # device b: daily AVG constant 5.0 -> upsampled LOCF 5.0 > winter_min=4
    daily = spark.createDataFrame(
        pd.DataFrame({"device": ["b"], "start": [T0], "value": [5.0]})
    )
    s = spark.createDataFrame(
        pd.DataFrame(
            {
                "device": ["a"] * 6 + ["b"] * 6,
                "start": [T0 + pd.Timedelta(hours=i) for i in range(6)] * 2,
                "value": 3.0,
            }
        )
    )
    w = s.select("device", "start", F.lit(4.0).alias("value"))
    eng = FormulaEngine(
        spark,
        series={
            "P": [SeriesRef(hourly, H, "AVG"), SeriesRef(daily, 86400, "AVG")],
            "S": SeriesRef(s, H, "AVG"),
            "W": SeriesRef(w, H, "AVG"),
        },
        he_warmup_days=1,
    )
    xml = (
        "<fun><fop>HE</fop><fpar><mh>S</mh></fpar><fpar><mh>W</mh></fpar>"
        "<fpar><mh>P</mh></fpar></fun>"
    )
    out = (
        eng.evaluate_many(xml, T0, T0 + pd.Timedelta(hours=5), H, keys=["device"])
        .orderBy("device", "start")
        .toPandas()
    )
    a = out[out["device"] == "a"]["value"].to_numpy()
    b = out[out["device"] == "b"]["value"].to_numpy()
    # device a follows the hysteresis of its own hourly pattern
    np.testing.assert_allclose(a, [1, 1, 0, 0, 1, 1])
    # device b's LOCF'd daily 5.0 > winter_min everywhere -> heating off
    np.testing.assert_allclose(b, [0.0] * 6)


def test_upsample_duplicate_source_ts_deterministic(spark):
    """A source series may hold two rows at one timestamp (SeriesRef takes
    any frame). Which of them claims the upsampled slots must not depend on
    input order: the larger value does, in one partition or several."""
    days = pd.to_datetime(["2024-01-01", "2024-01-01", "2024-01-02"])
    pdf = pd.DataFrame({"start": days, "value": [24.0, 48.0, 96.0]})
    rev = pdf.iloc[::-1].reset_index(drop=True)

    def run(df):
        eng = FormulaEngine(spark, series={"D": SeriesRef(df, 86400, "SUM")})
        return _vals(eng.evaluate("<mh>D</mh>", T0, T0 + pd.Timedelta(hours=47), H))

    for df in (
        spark.createDataFrame(pdf).coalesce(1),
        spark.createDataFrame(rev).coalesce(1),
        spark.createDataFrame(rev).repartition(3),
    ):
        assert np.allclose(run(df), [2.0] * 24 + [4.0] * 24)

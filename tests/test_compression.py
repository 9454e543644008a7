"""Codec v2 round-trips: property-based (hypothesis) over decimal and
fallback values, both value chain orders and grouped splits, blobs from
the first v2 encoder, the decoders' input checks, and the Spark payload
stage with its per-tier chunks (FIXTURES.md §E)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from timeseries_harmonizer_spark.functions import compression as C

XOR_SCALE = 0xFF
ORDER1 = 0x80

finite_or_weird = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.sampled_from([0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308, float("nan")]),
)
# values with at most E_MAX decimals: q / 10**e, as round(x, e) makes them
decimal_series = st.integers(min_value=0, max_value=C.E_MAX).flatmap(
    lambda e: st.tuples(
        st.just(e),
        st.lists(st.integers(min_value=-(10**12), max_value=10**12), max_size=300),
    )
)


def _bits(v: np.ndarray) -> bytes:
    return np.asarray(v, dtype=np.float64).view(np.uint64).tobytes()


def _scale(blob: bytes) -> int:
    """A value blob's decimal exponent, or XOR_SCALE."""
    return blob[3] if blob[3] == XOR_SCALE else blob[3] & ~ORDER1


def _order(blob: bytes) -> int:
    """A decimal value blob's chain order: 1 (first differences) or 2."""
    assert blob[3] != XOR_SCALE
    return 1 if blob[3] & ORDER1 else 2


def _concat(blobs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), offsets


@given(st.lists(finite_or_weird, max_size=300))
@settings(max_examples=150, deadline=None)
def test_float_roundtrip_bitexact(vals):
    v = np.array(vals, dtype=np.float64)
    blob = C.encode_floats(v)
    assert _bits(C.decode_floats(blob)) == _bits(v)
    if np.isnan(v).any() or np.isinf(v).any() or (np.signbit(v) & (v == 0)).any():
        assert _scale(blob) == XOR_SCALE


@given(decimal_series)
@settings(max_examples=150, deadline=None)
def test_decimal_roundtrip_bitexact(case):
    e, qs = case
    v = np.array([q / 10**e for q in qs], dtype=np.float64)
    blob = C.encode_floats(v)
    assert _bits(C.decode_floats(blob)) == _bits(v)
    # stored as scaled integers, at the smallest exponent that fits
    assert _scale(blob) <= e
    s = _scale(blob)
    assert _bits(np.rint(v * 10.0**s) / 10.0**s) == _bits(v)
    if s:
        s1 = s - 1
        assert _bits(np.rint(v * 10.0**s1) / 10.0**s1) != _bits(v)


@given(
    st.integers(min_value=0, max_value=C.E_MAX),
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.integers(min_value=2, max_value=40),
        ),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=-(10**6), max_value=10**6),
    st.integers(min_value=1, max_value=10**4),
    st.integers(min_value=3, max_value=200),
    decimal_series,
)
@settings(max_examples=100, deadline=None)
def test_value_orders_roundtrip_bitexact(e, runs, a, b, n_ramp, other):
    """Three groups per batch: held levels (order 1 is strictly shorter),
    a ramp (order 2 is strictly shorter) and any decimal series. Every
    group decodes bit for bit, whichever order its blob took."""
    levels = [q for q, _ in runs]
    runs = [r for i, r in enumerate(runs) if i == 0 or levels[i] != levels[i - 1]]
    held = np.concatenate([np.full(k, q) for q, k in runs])
    ramp = a + b * np.arange(n_ramp)
    e2, other = other
    v = np.concatenate(
        [held / 10**e, ramp / 10**e, np.array(other, dtype=np.int64) / 10**e2]
    )
    ends = np.cumsum([len(held), n_ramp, len(other)])
    starts = np.append(0, ends[:-1])
    blobs = C.encode_floats_grouped(v, starts, ends)
    got, counts = C.decode_floats_grouped(*_concat(blobs))
    assert _bits(got) == _bits(v)
    assert np.array_equal(counts, ends - starts)
    if len(runs) > 1:
        assert _order(blobs[0]) == 1
    assert _order(blobs[1]) == 2
    for i, (lo, hi) in enumerate(zip(starts, ends)):
        assert blobs[i] == C.encode_floats(v[lo:hi])


def test_value_order_2_on_a_tie():
    """A byte tie keeps order 2, the order every blob had before order 1
    existed; a ramp and a held level encode as order 2, held steps as
    order 1."""
    # chains [0, 0, 1, -1] and [0, 0, 1, -2]: the same nibble and payload bytes
    tie = np.array([0.0, 0.0, 1.0, 0.0])
    ramp = np.round(np.arange(100) * 0.25, 5)
    level = np.full(50, 3.5)
    steps = np.repeat([1.5, 2.25, 3.0, 1.0], 60)
    for v, order in ((tie, 2), (ramp, 2), (level, 2), (steps, 1)):
        blob = C.encode_floats(v)
        assert _order(blob) == order, v
        assert _bits(C.decode_floats(blob)) == _bits(v)


# Blobs from the first v2 encoder, which knew only order 2: a DD2 hourly
# series with a 3-hour gap, a DV2 decimal blob (scale byte 0x03) and a DV2
# XOR-word blob (scale byte 0xFF).
GOLDEN_TS = bytes.fromhex("4444320c030c2422000124cb201c60545f54")
GOLDEN_VAL = bytes.fromhex(
    "445632030ceb0f2232233322a861f401f30174b1021fbf02ac0d5709031ee9023a20ea56"
)
GOLDEN_XOR = bytes.fromhex(
    "445632ff051f7888089a9999999999b93fcfcccccccccc6c5555555555552d4000000000"
    "0000f8ff00000000000000c0"
)


def test_golden_v2_blobs_still_decode():
    t = 1704067200 + 3600 * np.array([0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 13, 14])
    v = np.array([12.5, 12.75, 13.0, 13.0, 13.0, 101.25, 99.5, 99.5, 0.0,
                  -4.125, -4.125, 7.0])
    x = np.array([0.1, 1 / 3, float("nan"), -0.0, 2.0])
    assert np.array_equal(C.decode_timestamps(GOLDEN_TS), t)
    assert _bits(C.decode_floats(GOLDEN_VAL)) == _bits(v)
    assert _bits(C.decode_floats(GOLDEN_XOR)) == _bits(x)
    # timestamps and XOR words encode as they did; these decimal values
    # now take the shorter order-1 chain
    assert C.encode_timestamps(t) == GOLDEN_TS
    assert C.encode_floats(x) == GOLDEN_XOR
    again = C.encode_floats(v)
    assert _order(again) == 1 and len(again) < len(GOLDEN_VAL)
    assert _bits(C.decode_floats(again)) == _bits(v)


def test_non_decimal_values_fall_back_to_xor():
    for vals in ([0.1, 1 / 3], [5e-324, 1.0], [1e-7], [float("inf")], [-0.0, 1.0]):
        v = np.array(vals)
        blob = C.encode_floats(v)
        assert _scale(blob) == XOR_SCALE, vals
        assert _bits(C.decode_floats(blob)) == _bits(v)


@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), max_size=300
    )
)
@settings(max_examples=150, deadline=None)
def test_ts_roundtrip(ts):
    t = np.array(ts, dtype=np.int64)
    back = C.decode_timestamps(C.encode_timestamps(t))
    assert np.array_equal(t, back)


def test_ts_roundtrip_int64_extremes():
    t = np.array([2**63 - 1, -(2**63), 0, 2**62, -(2**62), 2**63 - 1], dtype=np.int64)
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(t)), t)


@given(
    st.lists(
        st.one_of(
            finite_or_weird,
            st.integers(min_value=-(10**9), max_value=10**9).map(lambda q: q / 1e5),
        ),
        min_size=1,
        max_size=200,
    ),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_grouped_encoders_byte_identical(vals, data):
    """For any split into contiguous groups (some decimal, some not), each
    grouped blob is byte-identical to the one-group encoder's, and the
    grouped decoders return every group's points in order."""
    v = np.array(vals, dtype=np.float64)
    n = len(v)
    cuts = sorted(data.draw(
        st.lists(st.integers(min_value=1, max_value=n - 1), unique=True)
    )) if n > 1 else []
    starts = np.array([0] + cuts, dtype=np.int64)
    ends = np.append(starts[1:], n)
    t = (np.arange(n, dtype=np.int64) * 3600 + 1704067200) + (
        v.view(np.int64) % 7
    )  # irregular but deterministic timestamps
    fg = C.encode_floats_grouped(v, starts, ends)
    tg = C.encode_timestamps_grouped(t, starts, ends)
    for i, (a, b) in enumerate(zip(starts, ends)):
        assert fg[i] == C.encode_floats(v[a:b])
        assert tg[i] == C.encode_timestamps(t[a:b])
    got_v, counts_v = C.decode_floats_grouped(*_concat(fg))
    got_t, counts_t = C.decode_timestamps_grouped(*_concat(tg))
    assert _bits(got_v) == _bits(v)
    assert np.array_equal(got_t, t)
    assert np.array_equal(counts_v, ends - starts)
    assert np.array_equal(counts_t, ends - starts)


def test_decoders_reject_foreign_and_broken_blobs():
    t = np.arange(0, 3600, 60, dtype=np.int64) + 1704067200
    v = np.round(np.linspace(1.0, 2.0, len(t)), 5)
    ts_blob, val_blob = C.encode_timestamps(t), C.encode_floats(v)
    # v1 blobs: their magics name the fix
    for v1 in (b"GX1" + np.uint32(1).tobytes() + b"\x08" + bytes(8),
               b"DD1" + np.uint32(1).tobytes() + b"\x01\x05"):
        for decode in (C.decode_floats, C.decode_timestamps):
            with pytest.raises(ValueError, match="rerun the compress stage"):
                decode(v1)
    # swapped ts/value blobs
    with pytest.raises(ValueError, match="magic"):
        C.decode_floats(ts_blob)
    with pytest.raises(ValueError, match="magic"):
        C.decode_timestamps(val_blob)
    # truncated: at every cut, header included
    for blob, decode in ((ts_blob, C.decode_timestamps), (val_blob, C.decode_floats)):
        for cut in range(len(blob)):
            with pytest.raises(ValueError):
                decode(blob[:cut])
        with pytest.raises(ValueError, match="truncated or corrupt"):
            decode(blob + b"\x00")
    # a point count (2**31 as a varint) larger than the bitmap that follows
    with pytest.raises(ValueError, match="truncated or corrupt"):
        C.decode_timestamps(b"DD2" + b"\x80\x80\x80\x80\x08" + bytes(16))
    # a point count whose varint never ends
    with pytest.raises(ValueError, match="varint"):
        C.decode_timestamps(b"DD2" + b"\xff" * 8)
    # a value blob with an unknown scale byte, in either chain order
    for scale in [*range(C.E_MAX + 1, ORDER1), *range(ORDER1 + C.E_MAX + 1, XOR_SCALE)]:
        bad_scale = val_blob[:3] + bytes([scale]) + val_blob[4:]
        with pytest.raises(ValueError, match="scale"):
            C.decode_floats(bad_scale)


def test_compression_is_effective():
    """A regular 1m day of round(x, 5) values: a ramp, and hourly levels
    held for 60 minutes (a 1h-cadence series at the 1m tier)."""
    t = np.arange(0, 86400, 60, dtype=np.int64) + 1704067200
    rng = np.random.default_rng(5)
    ramp = np.round(np.cumsum(np.ones(len(t))) * 0.25, 5)
    held = np.repeat(np.round(rng.normal(100, 5, len(t) // 60), 5), 60)
    ts_bytes = len(C.encode_timestamps(t))
    assert ts_bytes < 0.2 * len(t)
    for v in (ramp, held):
        assert (ts_bytes + len(C.encode_floats(v))) / len(t) < 1.5


def test_spark_payload_roundtrip(spark):
    from timeseries_harmonizer_spark.operators.compress import (
        compress_points,
        decompress_points,
    )

    rng = np.random.default_rng(3)
    n = 3000
    pdf = pd.DataFrame(
        {
            "url": np.repeat([f"u{i}" for i in range(5)], n // 5),
            "start": pd.to_datetime(
                1704067200 + np.tile(np.arange(n // 5) * 60, 5), unit="s"
            ),
            "value": np.round(rng.normal(100, 5, n), 5),
        }
    )
    pdf.loc[7, "value"] = np.nan  # one chunk falls back to XOR words
    df = spark.createDataFrame(pdf)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    try:
        # small batches split (url, chunk) groups across batch boundaries
        spark.conf.set(key, "250")
        pay_pdf = compress_points(df, "1m").toPandas()
        back = decompress_points(compress_points(df, "1m")).toPandas()
    finally:
        spark.conf.set(key, before)
    assert (pay_pdf["n"] >= 1).all()
    assert not pay_pdf.duplicated(["url", "chunk_start"]).any()
    assert pay_pdf["n"].sum() == n
    a = pdf.sort_values(["url", "start"]).reset_index(drop=True)
    b = back.sort_values(["url", "start"]).reset_index(drop=True)
    assert len(a) == len(b)
    assert _bits(a["value"].to_numpy()) == _bits(b["value"].to_numpy())
    assert (a["start"].to_numpy() == b["start"].to_numpy()).all()
    assert (a["url"].to_numpy() == b["url"].to_numpy()).all()
    # blobs actually compress
    raw_bytes = 16 * len(pdf)
    blob_bytes = int(pay_pdf["ts_blob"].map(len).sum() + pay_pdf["val_blob"].map(len).sum())
    assert blob_bytes < 0.5 * raw_bytes


def test_tier_chunk_spans():
    """Every fixed-width tier's payload chunk is a whole number of UTC days
    and holds at most 1,440 of its windows."""
    from timeseries_harmonizer_spark.config import TIERS

    assert TIERS["1m"].chunk_seconds == 86400
    for tier in TIERS.values():
        if tier.calendar is None:
            assert tier.chunk_seconds % 86400 == 0, tier.name
            assert tier.chunk_seconds // tier.seconds <= 1440, tier.name


def _gapless(spark, t0: str, periods: int, step_s: int):
    rng = np.random.default_rng(11)
    start = pd.date_range(t0, periods=periods, freq=pd.Timedelta(seconds=step_s))
    value = np.round(rng.normal(50, 3, periods), 5)
    return spark.createDataFrame(pd.DataFrame({"url": "u", "start": start, "value": value}))


def test_payload_chunks_follow_the_tier(spark):
    """A gapless 10-day hourly series is one 1h payload row on a chunk
    boundary; a 2-day 1m series splits at UTC midnight into 2 rows."""
    from timeseries_harmonizer_spark.config import TIERS
    from timeseries_harmonizer_spark.operators.compress import compress_points

    span = TIERS["1h"].chunk_seconds
    hourly = compress_points(_gapless(spark, "2024-01-01", 240, 3600), "1h").toPandas()
    assert len(hourly) == 1 and hourly["n"].iloc[0] == 240
    chunk_s = hourly["chunk_start"].iloc[0].value // 10**9
    assert chunk_s % span == 0
    assert chunk_s <= 1704067200 < 1704067200 + 239 * 3600 < chunk_s + span

    minutes = compress_points(_gapless(spark, "2024-01-01", 2880, 60), "1m").toPandas()
    minutes = minutes.sort_values("chunk_start")
    assert minutes["n"].tolist() == [1440, 1440]
    assert [t.value // 10**9 for t in minutes["chunk_start"]] == [
        1704067200, 1704067200 + 86400
    ]


def test_decode_under_large_var_types(spark):
    """With ``spark.sql.execution.arrow.useLargeVarTypes`` on, the blob
    columns reach the decoder as large_binary (64-bit offsets)."""
    from timeseries_harmonizer_spark.operators.compress import (
        compress_points,
        decompress_points,
    )

    df = _gapless(spark, "2024-01-01", 100, 60).union(
        _gapless(spark, "2024-01-03", 50, 3600).selectExpr("'w' AS url", "start", "value")
    )
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        back = decompress_points(compress_points(df, "1m")).toPandas()
    finally:
        spark.conf.set(key, before)
    a = df.toPandas().sort_values(["url", "start"]).reset_index(drop=True)
    b = back.sort_values(["url", "start"]).reset_index(drop=True)
    assert (a["url"] == b["url"]).all() and (a["start"] == b["start"]).all()
    assert _bits(a["value"].to_numpy()) == _bits(b["value"].to_numpy())

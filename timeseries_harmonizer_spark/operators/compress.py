"""Compressed tier-payload stage: points -> per-(series, tier chunk) blobs
and back.

The analog of the reference's output record batching (Kafka chunks of 500,
reference lib2/__init__.py:54-61) re-designed for columnar storage: each
(series, tier, tier chunk) row stores its window starts and its values as
two codec-v2 blobs (functions/compression.py: delta-of-delta timestamps,
decimal values as exact scaled integers in the shorter of two delta
orders, a bitmap for zero entries), plus
uncompressed min/max/sum so coarse-tier downsampling and range pruning never
decode blobs. A tier chunk is ``TierConfig.chunk_seconds``, 1,440 of the
tier's windows (1m: 1 day, 1h: 60 days, 1d: 1,440 days), epoch-aligned. So
a blob holds at most 1,440 points at every fixed-width tier, whatever the
series length: a hot url never produces an unbounded group, and a sparse
coarse tier does not pay a blob header per few points.

Execution shape: ``mapInArrow`` over url-partitioned, (url, chunk, start)-
sorted data — one Python call per Arrow batch, with no pandas in between.
Group boundaries come from Arrow compute on ``url`` and a numpy compare on
the chunk; both blob columns are encoded in one vectorized pass over the
batch, and the payload columns go back as Arrow arrays (an
``applyInPandas`` per (url, chunk) group paid ~7 ms of per-group overhead x
O(urls x chunks) tiny groups — 20x slower). A group split across Arrow batch
boundaries is carried over to the next batch. Decoding reads each batch's
two binary columns straight from their Arrow buffers (32- or 64-bit
offsets, as ``spark.sql.execution.arrow.useLargeVarTypes`` picks) and
decodes all their blobs in one grouped call per column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.functions import compression as C

PAYLOAD_SCHEMA = (
    "url string, tier string, chunk_start timestamp, n long, "
    "vmin double, vmax double, vsum double, "
    "ts_blob binary, val_blob binary"
)
_TS = pa.timestamp("us", tz="UTC")


def _encode_groups(rows: pa.Table, tier_name: str) -> pa.Table:
    """rows sorted by (url, chunk_s, start): one payload row per (url,
    chunk). Group stats come from ufunc.reduceat and both blob columns
    from one grouped encoder call each, so per-group work is a byte slice."""
    n = rows.num_rows
    url = rows.column("url")
    chunks = rows.column("chunk_s").to_numpy()
    change = np.ones(n, dtype=bool)
    change[1:] = pc.not_equal(url.slice(1), url.slice(0, n - 1)).to_numpy() | (
        chunks[1:] != chunks[:-1]
    )
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    ts = rows.column("start").cast(pa.int64()).to_numpy() // 10**6
    v = rows.column("value").to_numpy().astype(np.float64)
    return pa.Table.from_pydict(
        {
            "url": url.take(starts),
            "tier": pa.array([tier_name] * len(starts), pa.string()),
            "chunk_start": pa.array(chunks[starts] * 10**6, _TS),
            "n": pa.array(ends - starts, pa.int64()),
            # fmin/fmax reduceat = nanmin/nanmax per group (NaN only if all-NaN)
            "vmin": np.fmin.reduceat(v, starts),
            "vmax": np.fmax.reduceat(v, starts),
            "vsum": np.add.reduceat(np.nan_to_num(v, nan=0.0), starts),
            "ts_blob": pa.array(C.encode_timestamps_grouped(ts, starts, ends), pa.binary()),
            "val_blob": pa.array(C.encode_floats_grouped(v, starts, ends), pa.binary()),
        }
    )


def compress_points(
    points: DataFrame,
    tier_name: str,
    key: str = "url",
    start_col: str = "start",
    value: str = "value",
    partitions: int | None = None,
) -> DataFrame:
    """points (key, start, value) -> compressed payload rows, one per
    (key, chunk of ``TIERS[tier_name].chunk_seconds``)."""
    chunk_seconds = TIERS[tier_name].chunk_seconds
    src = points.select(
        F.col(key).alias("url"),
        F.col(start_col).alias("start"),
        F.col(value).alias("value"),
        (F.floor(F.unix_timestamp(F.col(start_col)) / chunk_seconds) * chunk_seconds)
        .alias("chunk_s"),
    )
    if partitions is None:
        # r6: scale-adaptive default — ride the session's shuffle-partition
        # setting (itself sized to the core count / cluster profile) instead
        # of a hard-coded 64; fewer, fuller output files and one task wave
        # on the local bench, config-driven width on a cluster.
        partitions = int(
            points.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    src = src.repartition(partitions, "url").sortWithinPartitions(
        "url", "chunk_s", "start"
    )

    def fn(batches):
        tail = None  # the last (url, chunk) group, which may continue
        for batch in batches:
            rows = pa.Table.from_batches([batch])
            if tail is not None:
                rows = pa.concat_tables([tail, rows]).combine_chunks()
            n = rows.num_rows
            if not n:
                continue
            url, chunks = rows.column("url"), rows.column("chunk_s")
            same = pc.and_(
                pc.equal(url, url[n - 1]), pc.equal(chunks, chunks[n - 1])
            ).to_numpy()
            # sorted rows: the tail group is the run of rows equal to the last
            cut = n - int(np.argmin(same[::-1])) if not same.all() else 0
            tail = rows.slice(cut)
            if cut:
                yield from _encode_groups(rows.slice(0, cut), tier_name).to_batches()
        if tail is not None and tail.num_rows:
            yield from _encode_groups(tail, tier_name).to_batches()

    return src.mapInArrow(fn, PAYLOAD_SCHEMA)


def _blobs(col: pa.BinaryArray) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, offsets) of a binary column, read from its Arrow buffers."""
    if col.null_count:
        raise ValueError("payload row without a blob")
    _, offsets, data = col.buffers()
    width = np.dtype(np.int64 if pa.types.is_large_binary(col.type) else np.int32)
    offs = np.frombuffer(offsets, width, len(col) + 1, col.offset * width.itemsize)
    buf = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
    return buf, offs.astype(np.int64)


def decompress_points(payloads: DataFrame) -> DataFrame:
    """Inverse: payload rows -> (url, tier, start, value) points."""
    out_schema = "url string, tier string, start timestamp, value double"

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            ts, counts = C.decode_timestamps_grouped(*_blobs(batch.column("ts_blob")))
            vals, val_counts = C.decode_floats_grouped(*_blobs(batch.column("val_blob")))
            if not np.array_equal(counts, val_counts):
                raise ValueError("a payload row's ts and value blobs differ in length")
            row = np.repeat(np.arange(batch.num_rows), counts)
            yield pa.RecordBatch.from_pydict(
                {
                    "url": batch.column("url").take(row),
                    "tier": batch.column("tier").take(row),
                    "start": pa.array(ts * 10**6, _TS),
                    "value": pa.array(vals, pa.float64()),
                }
            )

    return payloads.mapInArrow(fn, out_schema)

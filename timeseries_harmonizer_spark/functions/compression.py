"""Tier-payload compression (codec v2): one delta-of-delta integer
container for timestamps and values, as vectorized numpy kernels that
encode and decode whole Arrow batches of blobs at once.

Grounding: Facebook Gorilla (VLDB'15: "Gorilla: A Fast, Scalable, In-Memory
Time Series Database") for delta-of-delta timestamps, its one-bit "same"
case and XOR float words; ALP (SIGMOD'24: "ALP: Adaptive Lossless
floating-Point Compression") for storing decimal doubles as exact scaled
integers. The container is byte-aligned and columnar instead of a bit
stream, so encode and decode are a few numpy passes per batch with no
per-point Python.

blob       := [magic:3][scale:uint8, value blobs only][n:varint]
              [bitmap:ceil(n/8)][lengths:ceil(k/2)][payload]
  magic    := b"DD2" (timestamps) | b"DV2" (values)
  n        := the point count as an unsigned LEB128 varint (7 bits per
              byte, low group first, high bit set on all but the last
              byte): one byte up to 127 points, two up to 16383
  z        := the blob's n uint64 entries, k of them nonzero
  bitmap   := bit i (least significant bit first) set iff z[i] != 0, so a
              zero entry costs one bit and nothing else
  lengths  := for each nonzero entry only, its byte count 1..8 as a
              nibble (low nibble first; an odd k leaves the last high
              nibble 0)
  payload  := the low ``length`` bytes of each nonzero entry, little-endian

z of a timestamp blob (int64 epoch values, any unit):
  zigzag delta-of-delta (order 2): the first value raw, then the first
  delta, then t[i] - 2 t[i-1] + t[i-2]. A regular series is all zeros
  after two.
scale of a value blob := e | 0x00 (order 2) or e | 0x80 (order 1) for e
  in 0..E_MAX, or 0xFF (XOR words); any other byte is corrupt
z of a value blob with scale e (either order):
  a zigzag chain over the int64 q = v * 10**e, where e is the smallest
  exponent for which q / 10**e reproduces every value of the blob bit for
  bit. Values rounded to d <= E_MAX decimals are stored exactly at e <= d.
  Order 2 is the timestamps' delta-of-delta chain; order 1 is the first
  value raw, then q[i] - q[i-1]. The encoder writes whichever gives the
  blob fewer bytes, and order 2 on a tie: a ramp is all zeros at order 2,
  held levels cost one entry per step at order 1 and two at order 2.
z of a value blob with scale 0xFF (no e works: NaN, -0.0, inf,
  non-decimal doubles):
  u[i] ^ u[i-1] of the float64 bit patterns, u[-1] = 0. Decode is an XOR
  prefix scan, so every bit pattern round-trips.

The grouped encoders take contiguous groups that tile one array (one group
per (series, tier chunk)) and return one blob per group; the scalar encoders
are their one-group case. The grouped decoders take the concatenated blob
bytes and their offsets (an Arrow binary column's buffers) and return the
concatenated points and each blob's point count. Decoders raise
``ValueError`` on a foreign or v1 magic and on a blob whose length
disagrees with its header. v1 blobs (b"GX1"/b"DD1") are not decoded: every
blob is derived data, and rerunning the compress stage rewrites it as v2.
v2 blobs written before order 1 existed all have order 2 and decode as
they did.
"""

from __future__ import annotations

import numpy as np

_MAGIC_T = b"DD2"
_MAGIC_F = b"DV2"
_MAGIC_V1 = (b"GX1", b"DD1")
E_MAX = 6
_XOR = 0xFF
_ORDER1 = 0x80  # scale-byte flag: the q chain is order 1, not order 2
_VARINT_MAX = 5  # bytes of a varint n: 35 bits
_POW10 = np.array([10.0**e for e in range(E_MAX + 1)])
# an entry's byte count is how many of these it is >= to
_BYTE_STEPS = np.array([1 << (8 * i) for i in range(8)], dtype=np.uint64)


def _exclusive_cumsum(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(x, out=out[1:], dtype=np.int64)
    return out


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The indices start .. start + count - 1 of every span, concatenated."""
    return np.repeat(starts - _exclusive_cumsum(counts)[:-1], counts) + np.arange(
        int(counts.sum())
    )


def _group_sums(x: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-group sums of ``x``, whose groups of ``counts`` tile it."""
    c = _exclusive_cumsum(x)
    b = _exclusive_cumsum(counts)
    return c[b[1:]] - c[b[:-1]]


def _zigzag(x: np.ndarray) -> np.ndarray:
    return (x.astype(np.uint64) << np.uint64(1)) ^ (x >> 63).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return (u >> np.uint64(1)).astype(np.int64) ^ -(u & np.uint64(1)).astype(np.int64)


def _nonempty(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, counts) of the groups that hold points."""
    starts = _exclusive_cumsum(counts)[:-1]
    keep = counts > 0
    return starts[keep], counts[keep]


def _diff(x: np.ndarray, counts: np.ndarray, keep: int) -> np.ndarray:
    """First differences of int64 ``x`` within each group, except that a
    group's first ``keep`` entries stay as they are. int64 arithmetic
    wraps, and ``_undiff`` wraps back."""
    starts, counts = _nonempty(counts)
    d = np.empty(len(x), dtype=np.int64)
    d[:1] = x[:1]
    np.subtract(x[1:], x[:-1], out=d[1:])
    for j in range(keep):
        at = (starts + j)[counts > j]
        d[at] = x[at]
    return d


def _undiff(z: np.ndarray, counts: np.ndarray, order: int) -> np.ndarray:
    """Inverse of the order-1 chain ``_diff(x, counts, 1)`` or of the
    order-2 chain ``_diff(_diff(x, counts, 1), counts, 2)``."""
    starts, counts = _nonempty(counts)
    x = z.copy()
    x[starts] = 0
    for _ in range(order):  # the deltas, then the values less the first
        c = np.cumsum(x)
        x = c - np.repeat(c[starts] - x[starts], counts)
    return x + np.repeat(z[starts], counts)


def _chain_bytes(z: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per group, the bytes ``_pack`` spends on its length nibbles and
    payload (the bitmap and header do not depend on the chain)."""
    lens = np.searchsorted(_BYTE_STEPS, z, side="right")
    return (_group_sums(lens > 0, counts) + 1) // 2 + _group_sums(lens, counts)


def _xor_words(u: np.ndarray, counts: np.ndarray) -> np.ndarray:
    starts, _ = _nonempty(counts)
    x = np.empty_like(u)
    x[:1] = u[:1]
    np.bitwise_xor(u[1:], u[:-1], out=x[1:])
    x[starts] = u[starts]
    return x


def _unxor(x: np.ndarray, counts: np.ndarray) -> np.ndarray:
    starts, counts = _nonempty(counts)
    a = np.bitwise_xor.accumulate(x)
    return a ^ np.repeat(a[starts] ^ x[starts], counts)


def _scales(v: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(scale per group, q per value): the smallest e <= E_MAX at which
    every value of the group is q / 10**e bit for bit, else _XOR. Each
    pass tests only the groups no smaller e fitted."""
    scale = np.full(len(counts), _XOR, dtype=np.uint8)
    q = np.zeros(len(v), dtype=np.int64)
    bits = v.view(np.uint64)
    starts = _exclusive_cumsum(counts)[:-1]
    todo = np.arange(len(counts))
    for e in range(E_MAX + 1):
        n = counts[todo]
        idx = _spans(starts[todo], n)
        with np.errstate(invalid="ignore", over="ignore"):
            qf = np.rint(v[idx] * _POW10[e])
            ok = np.abs(qf) < 2.0**63  # also False for NaN and inf
            qe = np.where(ok, qf, 0.0).astype(np.int64)
        ok &= (qe / _POW10[e]).view(np.uint64) == bits[idx]
        fit = _group_sums(~ok, n) == 0
        scale[todo[fit]] = e
        take = np.repeat(fit, n)
        q[idx[take]] = qe[take]
        todo = todo[~fit]
        if not len(todo):
            break
    return scale, q


def _head(
    magic: bytes, counts: np.ndarray, *extra: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(every group's header concatenated, header length per group): the
    magic, one byte per ``extra``, then n as a varint."""
    g = len(counts)
    digit = np.arange(_VARINT_MAX)
    n_len = 1 + (counts[:, None] >> (7 * digit[1:]) > 0).sum(axis=1)
    varint = (counts[:, None] >> (7 * digit)) & 0x7F | (digit < n_len[:, None] - 1) << 7
    fixed = [np.broadcast_to(np.frombuffer(magic, dtype=np.uint8), (g, 3))]
    fixed += [np.asarray(x, dtype=np.uint8).reshape(g, 1) for x in extra]
    rows = np.hstack(fixed + [varint.astype(np.uint8)])
    width = 3 + len(extra) + n_len
    return rows[np.arange(rows.shape[1]) < width[:, None]], width


def _pack(
    z: np.ndarray, counts: np.ndarray, head: tuple[np.ndarray, np.ndarray]
) -> list[bytes]:
    """One container per group of ``counts`` (which tile ``z``): its
    header from ``head`` (as ``_head`` returns it), then its bitmap, length
    nibbles and payload."""
    nz = z != 0
    words = z[nz]
    lens = np.searchsorted(_BYTE_STEPS, words, side="right").astype(np.uint8)
    k = _group_sums(nz, counts)
    bm, nb = (counts + 7) // 8, (k + 1) // 2
    bits = np.zeros(int(bm.sum()) * 8, dtype=bool)
    bits[_spans(_exclusive_cumsum(bm)[:-1] * 8, counts)[nz]] = True
    nib = np.zeros(int(nb.sum()) * 2, dtype=np.uint8)
    nib[_spans(_exclusive_cumsum(nb)[:-1] * 2, k)] = lens
    le = words.astype("<u8").view(np.uint8).reshape(-1, 8)
    sections = [  # (every group's bytes concatenated, bytes per group)
        head,
        (np.packbits(bits, bitorder="little"), bm),
        (nib[0::2] | (nib[1::2] << 4), nb),
        (le[np.arange(8) < lens[:, None]], _group_sums(lens, k)),
    ]
    off = _exclusive_cumsum(sum(size for _, size in sections))
    buf = np.empty(int(off[-1]), dtype=np.uint8)
    at = off[:-1].copy()
    for data, size in sections:
        buf[_spans(at, size)] = data
        at += size
    out, o = buf.tobytes(), off.tolist()
    return [out[a:b] for a, b in zip(o[:-1], o[1:])]


def _unpack(
    buf: np.ndarray, offsets: np.ndarray, magic: bytes, extra: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(z of every blob concatenated, n per blob, each blob's magic and
    ``extra`` header bytes) of the blobs ``buf[offsets[i]:offsets[i + 1]]``.
    Every section is checked to fit before it is read, so a corrupt n
    cannot allocate more than 8 entries per byte of input."""
    offsets = np.asarray(offsets, dtype=np.int64)
    start, size = offsets[:-1], np.diff(offsets)

    def fits(used: np.ndarray, exact: bool = False) -> None:
        bad = (size != used) if exact else (size < used)
        if bad.any():
            i = int(np.argmax(bad))
            raise ValueError(
                f"blob {i} has {size[i]} bytes but its header implies "
                f"{'exactly' if exact else 'at least'} {used[i]}: truncated "
                "or corrupt"
            )

    fixed = 3 + extra
    fits(np.full(len(size), fixed + 1))
    head = buf[start[:, None] + np.arange(fixed)]
    wrong = (head[:, :3] != np.frombuffer(magic, dtype=np.uint8)).any(axis=1)
    if wrong.any():
        found = head[int(np.argmax(wrong)), :3].tobytes()
        if found in _MAGIC_V1:
            raise ValueError(
                f"{found!r} is a v1 blob, which this codec does not decode; "
                "rerun the compress stage to rewrite the table as v2"
            )
        raise ValueError(f"expected a {magic!r} blob, found magic {found!r}")
    at = start[:, None] + fixed + np.arange(_VARINT_MAX)
    varint = np.where(at < offsets[1:, None], buf[np.minimum(at, len(buf) - 1)], 0)
    n_len = 1 + np.cumprod(varint >= 0x80, axis=1).sum(axis=1)
    if (n_len > _VARINT_MAX).any():
        raise ValueError("blob point count runs past its varint: corrupt")
    h = fixed + n_len
    fits(h)
    digits = (varint & 0x7F).astype(np.int64) << (7 * np.arange(_VARINT_MAX))
    counts = np.where(np.arange(_VARINT_MAX) < n_len[:, None], digits, 0).sum(axis=1)
    bm = (counts + 7) // 8
    fits(h + bm)
    bits = np.unpackbits(buf[_spans(start + h, bm)], bitorder="little")
    nz = bits[_spans(_exclusive_cumsum(bm)[:-1] * 8, counts)].astype(bool)
    k = _group_sums(nz, counts)
    nb = (k + 1) // 2
    fits(h + bm + nb)
    packed = buf[_spans(start + h + bm, nb)]
    nib = np.empty(2 * len(packed), dtype=np.uint8)
    nib[0::2], nib[1::2] = packed & 0x0F, packed >> 4
    lens = nib[_spans(_exclusive_cumsum(nb)[:-1] * 2, k)]
    if ((lens == 0) | (lens > 8)).any():
        raise ValueError("blob holds a byte length outside 1..8: corrupt")
    p = _group_sums(lens, k)
    fits(h + bm + nb + p, exact=True)
    le = np.zeros((len(lens), 8), dtype=np.uint8)
    le[np.arange(8) < lens[:, None]] = buf[_spans(start + h + bm + nb, p)]
    z = np.zeros(len(nz), dtype=np.uint64)
    z[nz] = le.view("<u8").reshape(-1)
    return z, counts, head


def _one(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    return np.frombuffer(blob, dtype=np.uint8), np.array([0, len(blob)])


def encode_timestamps_grouped(
    ts: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """One delta-of-delta blob per group ``ts[starts[i]:ends[i]]``; the
    groups tile ``ts`` in order."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    counts = np.asarray(ends, dtype=np.int64) - np.asarray(starts, dtype=np.int64)
    dod = _diff(_diff(t, counts, 1), counts, 2)
    return _pack(_zigzag(dod), counts, _head(_MAGIC_T, counts))


def encode_floats_grouped(
    values: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """One value blob per group ``values[starts[i]:ends[i]]``, each at its
    own scale and in the shorter of its two chain orders (order 2 on a
    tie); the groups tile ``values`` in order."""
    v = np.ascontiguousarray(values, dtype=np.float64)
    counts = np.asarray(ends, dtype=np.int64) - np.asarray(starts, dtype=np.int64)
    scale, q = _scales(v, counts)
    d = _diff(q, counts, 1)
    z1, z2 = _zigzag(d), _zigzag(_diff(d, counts, 2))
    decimal = scale != _XOR
    first = decimal & (_chain_bytes(z1, counts) < _chain_bytes(z2, counts))
    z = np.where(
        np.repeat(decimal, counts),
        np.where(np.repeat(first, counts), z1, z2),
        _xor_words(v.view(np.uint64), counts),
    )
    scale = np.where(first, scale | _ORDER1, scale)
    return _pack(z, counts, _head(_MAGIC_F, counts, scale))


def decode_timestamps_grouped(
    buf: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(int64 timestamps of every blob concatenated, count per blob)."""
    z, counts, _ = _unpack(buf, offsets, _MAGIC_T, 0)
    return _undiff(_unzigzag(z), counts, 2), counts


def decode_floats_grouped(
    buf: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(float64 values of every blob concatenated, count per blob)."""
    z, counts, head = _unpack(buf, offsets, _MAGIC_F, 1)
    scale = head[:, 3]
    xor = scale == _XOR
    e = scale & (_ORDER1 - 1)
    if ((e > E_MAX) & ~xor).any():
        raise ValueError("value blob has an unknown scale byte: corrupt")
    first = ((scale & _ORDER1) > 0) & ~xor
    out = np.empty(len(z), dtype=np.float64)
    at = np.repeat(xor, counts)
    out[at] = _unxor(z[at], counts[xor]).view(np.float64)
    for blobs, order in ((first, 1), (~first & ~xor, 2)):
        at = np.repeat(blobs, counts)
        q = _undiff(_unzigzag(z[at]), counts[blobs], order)
        out[at] = q / np.repeat(_POW10[e[blobs]], counts[blobs])
    return out, counts


def encode_timestamps(ts: np.ndarray) -> bytes:
    return encode_timestamps_grouped(ts, np.array([0]), np.array([len(ts)]))[0]


def encode_floats(values: np.ndarray) -> bytes:
    return encode_floats_grouped(values, np.array([0]), np.array([len(values)]))[0]


def decode_timestamps(blob: bytes) -> np.ndarray:
    return decode_timestamps_grouped(*_one(blob))[0]


def decode_floats(blob: bytes) -> np.ndarray:
    return decode_floats_grouped(*_one(blob))[0]

"""Compressed time-series tier: Gorilla-style XOR (values) + delta-of-delta
(timestamps), block-wise bit-packed, vectorized numpy end to end.

The reference stores cell files as float32 + zlib with time-chunk 1000
(reference era5/reshuffle.py:240-243). Here the analogous packed tier is a
per-(cell_id, conv_id) binary blob produced inside Arrow pandas UDFs (no
per-row Python, per BASELINE.json input_hint).

Codec design (a vectorizable variant of Facebook's Gorilla paper,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB 2015):

  timestamps  epoch-us int64 -> delta -> delta-of-delta -> zigzag ->
              blocks of 128 packed at the block's max bit-width
              (DELTA_BINARY_PACKED-style; regular 6-hourly series pack to
              ~1 bit/point since dod == 0)
  values      float32 bits -> XOR with previous -> blocks of 128 packed at
              width (32 - min leading zeros - min trailing zeros) of the
              block's OR; all-zero XOR blocks cost 2 bytes total
              (constant/slow-moving series pack to ~0 bits/point)

Each block is byte-aligned so encode AND decode are pure numpy
(packbits/unpackbits + bitwise_xor.accumulate / cumsum) — no bit-cursor
loops over rows. NaNs round-trip bit-exactly (NaN payload preserved).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"GTS1"
BLOCK = 128


def _nbits(v: int) -> int:
    return int(v).bit_length()


def _pack_bits(vals: np.ndarray, w: int) -> bytes:
    """Pack uint64 values at fixed width w (MSB-first), byte-aligned."""
    if w == 0 or len(vals) == 0:
        return b""
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: memoryview, n: int, w: int) -> np.ndarray:
    if w == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(
        np.frombuffer(buf, np.uint8, count=(n * w + 7) // 8), count=n * w
    ).reshape(n, w).astype(np.uint64)
    shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
    return (bits << shifts).sum(axis=1, dtype=np.uint64)


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).view(np.int64)) ^ -(
        (u & np.uint64(1)).view(np.int64)
    )


def encode_timestamps(ts_us: np.ndarray) -> bytes:
    """int64 epoch-microseconds -> bytes."""
    ts = np.asarray(ts_us, dtype=np.int64)
    n = len(ts)
    out = bytearray(struct.pack("<I", n))
    if n == 0:
        return bytes(out)
    out += struct.pack("<q", int(ts[0]))
    if n == 1:
        return bytes(out)
    d = np.diff(ts)
    out += struct.pack("<q", int(d[0]))
    dod = _zigzag(np.diff(d))
    for i in range(0, len(dod), BLOCK):
        blk = dod[i : i + BLOCK]
        w = _nbits(int(blk.max())) if len(blk) else 0
        out += struct.pack("<B", w)
        out += _pack_bits(blk, w)
    return bytes(out)


def decode_timestamps(buf: bytes) -> np.ndarray:
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<I", mv, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    (t0,) = struct.unpack_from("<q", mv, 4)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    (d0,) = struct.unpack_from("<q", mv, 12)
    pos = 20
    m = n - 2
    dod = np.empty(m, dtype=np.uint64)
    got = 0
    while got < m:
        cnt = min(BLOCK, m - got)
        w = mv[pos]
        pos += 1
        nbytes = (cnt * w + 7) // 8
        dod[got : got + cnt] = _unpack_bits(mv[pos : pos + nbytes], cnt, w)
        pos += nbytes
        got += cnt
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = d0
    if m:
        deltas[1:] = d0 + np.cumsum(_unzigzag(dod))
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1:] = t0 + np.cumsum(deltas)
    return out


def encode_values_f32(vals: np.ndarray) -> bytes:
    """float32 array (NaN ok) -> bytes via XOR-with-previous."""
    v = np.ascontiguousarray(vals, dtype=np.float32).view(np.uint32)
    n = len(v)
    out = bytearray(struct.pack("<I", n))
    if n == 0:
        return bytes(out)
    out += struct.pack("<I", int(v[0]))
    if n == 1:
        return bytes(out)
    xors = (v[1:] ^ v[:-1]).astype(np.uint64)
    for i in range(0, len(xors), BLOCK):
        blk = xors[i : i + BLOCK]
        orv = int(np.bitwise_or.reduce(blk))
        if orv == 0:
            out += struct.pack("<BB", 32, 0)  # lz=32 => all-identical block
            continue
        lz = 32 - _nbits(orv)
        tz = (orv & -orv).bit_length() - 1
        w = 32 - lz - tz
        out += struct.pack("<BB", lz, w)
        out += _pack_bits(blk >> np.uint64(tz), w)
    return bytes(out)


def decode_values_f32(buf: bytes) -> np.ndarray:
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<I", mv, 0)
    if n == 0:
        return np.empty(0, dtype=np.float32)
    (v0,) = struct.unpack_from("<I", mv, 4)
    if n == 1:
        return np.array([v0], dtype=np.uint32).view(np.float32)
    pos = 8
    m = n - 1
    xors = np.empty(m, dtype=np.uint64)
    got = 0
    while got < m:
        cnt = min(BLOCK, m - got)
        lz, w = mv[pos], mv[pos + 1]
        pos += 2
        if lz == 32:
            xors[got : got + cnt] = 0
        else:
            tz = 32 - lz - w
            nbytes = (cnt * w + 7) // 8
            xors[got : got + cnt] = (
                _unpack_bits(mv[pos : pos + nbytes], cnt, w) << np.uint64(tz)
            )
            pos += nbytes
        got += cnt
    bits = np.empty(n, dtype=np.uint32)
    bits[0] = v0
    bits[1:] = xors.astype(np.uint32)
    return np.bitwise_xor.accumulate(bits).view(np.float32)


# ----------------------------------------------------------- batch encoders
#
# Byte-identical to encode_timestamps/encode_values_f32 but vectorized
# ACROSS series: one numpy pass over a whole Arrow batch of runs instead
# of per-series Python. The per-series encoders cost ~60us of
# interpreter overhead each (bytearray, struct.pack, tiny-array numpy);
# at 1e9 conversations that is hours of pure Python — the batch path
# bounds it to O(distinct (block-length, bit-width) groups) numpy calls
# per Arrow batch. Scalar encoders remain the readable reference; tests
# assert bit-for-bit equality on randomized inputs.


def _bitlen_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (exact to 2^63: frexp plus a
    one-step correction for float rounding at >=2^53)."""
    e = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    ex = np.minimum(e, 63).astype(np.uint64)
    # frexp can be off by one once doubles lose integer precision
    too_small = (x >> ex) > 0
    e = e + too_small
    ex = np.minimum(np.maximum(e - 1, 0), 63).astype(np.uint64)
    too_big = (e > 0) & ((x >> ex) == 0)
    return e - too_big


def _w32le(buf: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    v = vals.astype(np.uint32)
    for k in range(4):
        buf[pos + k] = ((v >> np.uint32(8 * k)) & np.uint32(0xFF)).astype(
            np.uint8
        )


def _w64le(buf: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    v = vals.astype(np.int64).view(np.uint64)
    for k in range(8):
        buf[pos + k] = ((v >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(
            np.uint8
        )


def _block_layout(m: np.ndarray):
    """Per-run value counts m -> global block table (run_of_block,
    bstart/bcnt in compact value coordinates, per-run first-block idx)."""
    nrun = len(m)
    cs = np.concatenate(([0], np.cumsum(m)))
    nb = (m + BLOCK - 1) // BLOCK
    first = np.concatenate(([0], np.cumsum(nb)))
    tot = int(first[-1])
    run_of = np.repeat(np.arange(nrun), nb)
    blk_in_run = np.arange(tot) - np.repeat(first[:-1], nb)
    bstart = cs[run_of] + blk_in_run * BLOCK
    bcnt = np.minimum(bstart + BLOCK, cs[run_of] + m[run_of]) - bstart
    return run_of, bstart, bcnt, first


def _scatter_packed(buf, payload_pos, bstart, bcnt, vals_u64, widths):
    """Pack each block's values at its width (MSB-first, byte-aligned per
    block, same as _pack_bits) and scatter into buf. Vectorized per
    (count, width) group — one np.packbits per group."""
    keys = bcnt * 65 + widths  # widths <= 64 -> base 65 keeps keys unique
    for key in np.unique(keys):
        sel = np.flatnonzero(keys == key)
        cnt, w = int(bcnt[sel[0]]), int(widths[sel[0]])
        if w == 0 or cnt == 0:
            continue
        gather = bstart[sel][:, None] + np.arange(cnt)
        mat = vals_u64[gather]
        shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
        bits = ((mat[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits.reshape(len(sel), cnt * w), axis=1)
        pos = payload_pos[sel][:, None] + np.arange(packed.shape[1])
        buf[pos] = packed


def encode_values_f32_batch(
    vals: np.ndarray, bounds: np.ndarray
) -> list[bytes]:
    """encode_values_f32 for every run vals[bounds[i]:bounds[i+1]] at
    once; returns one bytes object per run, bit-identical to the scalar
    encoder."""
    v = np.ascontiguousarray(vals, dtype=np.float32).view(np.uint32)
    bounds = np.asarray(bounds, dtype=np.int64)
    starts, ends = bounds[:-1], bounds[1:]
    lens = ends - starts
    nrun = len(lens)

    xor_all = np.empty(len(v), np.uint64)
    if len(v):
        xor_all[0] = 0
        xor_all[1:] = (v[1:] ^ v[:-1]).astype(np.uint64)
    keep = np.ones(len(v), bool)
    keep[starts[starts < len(v)]] = False
    xors = xor_all[keep]
    m = np.maximum(lens - 1, 0)

    run_of, bstart, bcnt, first = _block_layout(m)
    orv = (
        np.bitwise_or.reduceat(xors, bstart)
        if len(bstart)
        else np.empty(0, np.uint64)
    )
    bl = _bitlen_u64(orv)
    lz = 32 - bl
    low = orv & (~orv + np.uint64(1))
    tz = np.maximum(_bitlen_u64(low) - 1, 0)
    w = np.where(orv == 0, 0, 32 - lz - tz)
    zero = orv == 0

    paylen = np.where(zero, 0, (bcnt * w + 7) // 8)
    blk_bytes = 2 + paylen
    run_blk = np.bincount(run_of, weights=blk_bytes, minlength=nrun).astype(
        np.int64
    )
    total = 4 + np.where(lens > 0, 4, 0) + run_blk
    offs = np.concatenate(([0], np.cumsum(total)))
    buf = np.zeros(int(offs[-1]), np.uint8)

    _w32le(buf, offs[:-1], lens)
    sel = lens > 0
    _w32le(buf, offs[:-1][sel] + 4, v[starts[sel]])

    if len(bstart):
        ds = offs[:-1] + 4 + 4 * (lens > 0)
        cum = np.cumsum(blk_bytes) - blk_bytes
        within = cum - cum[first[:-1][run_of]]
        boff = ds[run_of] + within
        buf[boff] = np.where(zero, 32, lz).astype(np.uint8)
        buf[boff + 1] = np.where(zero, 0, w).astype(np.uint8)
        # per-value shift = its block's trailing-zero count
        shifted = xors >> np.repeat(tz.astype(np.uint64), bcnt)
        _scatter_packed(buf, boff + 2, bstart, bcnt, shifted, w)
    return [
        buf[offs[r]:offs[r + 1]].tobytes() for r in range(nrun)
    ]


def encode_timestamps_batch(
    ts_us: np.ndarray, bounds: np.ndarray
) -> list[bytes]:
    """encode_timestamps for every run at once; bit-identical to the
    scalar encoder."""
    ts = np.asarray(ts_us, dtype=np.int64)
    bounds = np.asarray(bounds, dtype=np.int64)
    starts, ends = bounds[:-1], bounds[1:]
    lens = ends - starts
    nrun = len(lens)

    d_all = np.empty(len(ts), np.int64)
    if len(ts):
        d_all[0] = 0
        d_all[1:] = ts[1:] - ts[:-1]
    dod_all = np.empty(len(ts), np.int64)
    if len(ts):
        dod_all[:2] = 0
        dod_all[2:] = d_all[2:] - d_all[1:-1]
    keep = np.ones(len(ts), bool)
    keep[starts[starts < len(ts)]] = False
    second = starts + 1
    keep[second[(lens >= 2) & (second < len(ts))]] = False
    dod = _zigzag(dod_all[keep])
    m = np.maximum(lens - 2, 0)

    run_of, bstart, bcnt, first = _block_layout(m)
    if len(bstart):
        blk_max = np.maximum.reduceat(dod, bstart)
    else:
        blk_max = np.empty(0, np.uint64)
    w = _bitlen_u64(blk_max)

    paylen = (bcnt * w + 7) // 8
    blk_bytes = 1 + paylen
    run_blk = np.bincount(run_of, weights=blk_bytes, minlength=nrun).astype(
        np.int64
    )
    total = 4 + np.where(lens > 0, 8, 0) + np.where(lens > 1, 8, 0) + run_blk
    offs = np.concatenate(([0], np.cumsum(total)))
    buf = np.zeros(int(offs[-1]), np.uint8)

    _w32le(buf, offs[:-1], lens)
    s1 = lens > 0
    _w64le(buf, offs[:-1][s1] + 4, ts[starts[s1]])
    s2 = lens > 1
    _w64le(buf, offs[:-1][s2] + 12, d_all[starts[s2] + 1])

    if len(bstart):
        ds = offs[:-1] + 4 + 8 * (lens > 0) + 8 * (lens > 1)
        cum = np.cumsum(blk_bytes) - blk_bytes
        within = cum - cum[first[:-1][run_of]]
        boff = ds[run_of] + within
        buf[boff] = w.astype(np.uint8)
        _scatter_packed(buf, boff + 1, bstart, bcnt, dod, w)
    return [
        buf[offs[r]:offs[r + 1]].tobytes() for r in range(nrun)
    ]


# ---------------------------------------------------------------- Spark side

PACKED_SCHEMA_FMT = (
    "cell_id int, conv_id string, n long, start_ts timestamp, "
    "end_ts timestamp, ts_blob binary, {blobs}"
)


def packed_schema(value_cols: tuple[str, ...]):
    return PACKED_SCHEMA_FMT.format(
        blobs=", ".join(f"{c}_blob binary" for c in value_cols)
    )


def pack_cells(silver, value_cols: tuple[str, ...] = ("text_len", "tool_call")):
    """groupBy(cell_id, conv_id).applyInPandas pack — the OrthoMultiTs write
    analogue (one packed series per location per cell,
    reference docs/img2ts.rst:10-12). Rows arrive unsorted per group; we
    sort inside the UDF (cheap: one series) which also re-merges salted
    segments of a hot conv if the caller split them upstream."""
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "turn_idx"] if "turn_idx" in pdf else ["ts"])
        ts_us = pdf["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
        row = {
            "cell_id": pdf["cell_id"].iloc[0],
            "conv_id": pdf["conv_id"].iloc[0],
            "n": len(pdf),
            "start_ts": pdf["ts"].iloc[0],
            "end_ts": pdf["ts"].iloc[-1],
            "ts_blob": encode_timestamps(ts_us),
        }
        for c in value_cols:
            row[f"{c}_blob"] = encode_values_f32(
                pdf[c].to_numpy(dtype=np.float32)
            )
        return pd.DataFrame([row])

    return silver.groupBy("cell_id", "conv_id").applyInPandas(
        _pack, schema=packed_schema(value_cols)
    )


def pack_cells_stream(
    silver, value_cols: tuple[str, ...] = ("text_len", "tool_call")
):
    """Streaming pack over the reshuffle's OWN layout: silver is already
    range-partitioned by (cell_id, conv_id) and sorted by (cell_id,
    conv_id, ts, turn_idx), so the per-conv series are contiguous runs
    inside each partition. mapInPandas walks the Arrow batches, finds run
    boundaries with one numpy change-point scan, and encodes each run by
    array slicing — no shuffle, no sort, no per-group pandas frame. A run
    crossing a batch boundary is carried into the next batch; a run can
    NEVER cross a partition boundary (range partitioning on exactly these
    keys; the salted path re-clusters through pack_cells instead).

    Same output as pack_cells; exists because applyInPandas costs ~4ms of
    group overhead per (cell, conv) — ruinous at 1e9 conversations, while
    this path is bounded by encode throughput alone.
    """
    import pandas as pd

    schema = packed_schema(value_cols)

    def _runs(pdf: pd.DataFrame):
        cell = pdf["cell_id"].to_numpy()
        conv = pdf["conv_id"].to_numpy()
        change = np.flatnonzero((cell[1:] != cell[:-1]) | (conv[1:] != conv[:-1]))
        return np.concatenate(([0], change + 1, [len(pdf)]))

    def _encode_runs(pdf: pd.DataFrame, bounds, n_runs):
        # columns -> numpy ONCE per batch; ALL runs encoded in one
        # vectorized pass (encode_*_batch — bit-identical to the scalar
        # encoders, O(width-groups) numpy calls instead of per-series
        # Python)
        ts_us = pdf["ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
        cell = pdf["cell_id"].to_numpy()
        conv = pdf["conv_id"].to_numpy()
        ts = pdf["ts"]
        rb = np.asarray(bounds[: n_runs + 1], dtype=np.int64)
        # slice to the encoded region: rows past rb[-1] belong to the
        # carried (incomplete) run and must not enter the batch layout
        end = int(rb[-1])
        ts_blobs = encode_timestamps_batch(ts_us[:end], rb)
        val_blobs = {
            c: encode_values_f32_batch(
                pdf[c].to_numpy(dtype=np.float32)[:end], rb
            )
            for c in value_cols
        }
        rows = []
        for i in range(n_runs):
            lo, hi = bounds[i], bounds[i + 1]
            row = {
                "cell_id": cell[lo],
                "conv_id": conv[lo],
                "n": hi - lo,
                "start_ts": ts.iat[lo],
                "end_ts": ts.iat[hi - 1],
                "ts_blob": ts_blobs[i],
            }
            for c in value_cols:
                row[f"{c}_blob"] = val_blobs[c][i]
            rows.append(row)
        return rows

    def _pack_stream(batches):
        carry = None
        last_key = None  # (cell_id, conv_id) of the last COMPLETED run
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            bounds = _runs(pdf)
            # Layout precondition guard: runs must arrive clustered —
            # each (cell_id, conv_id) exactly once per partition. A key
            # regression means the caller broke the contract (e.g. passed
            # a re-read/re-partitioned silver instead of the in-plan
            # reshuffle) and rows of one conv would silently fragment
            # into duplicate packed rows. Strictly-increasing keys catch
            # both regressions and repeats (ASCII keys: pandas/Java
            # string order agree).
            for i in range(len(bounds) - 2):
                key = (pdf["cell_id"].iat[bounds[i]], pdf["conv_id"].iat[bounds[i]])
                if last_key is not None and key <= last_key:
                    raise ValueError(
                        "pack_cells_stream: (cell_id, conv_id) run order "
                        f"regressed ({last_key} -> {key}); input must be "
                        "the reshuffle's own clustered+sorted output — "
                        "use pack_cells() for arbitrary layouts"
                    )
                last_key = key
            # last run may continue in the next batch -> carry it
            carry = pdf.iloc[bounds[-2]:].reset_index(drop=True)
            rows = _encode_runs(pdf, bounds, len(bounds) - 2)
            if rows:
                yield pd.DataFrame(rows)
        if carry is not None and len(carry):
            key = (carry["cell_id"].iat[0], carry["conv_id"].iat[0])
            if last_key is not None and key <= last_key:
                raise ValueError(
                    "pack_cells_stream: (cell_id, conv_id) run order "
                    f"regressed ({last_key} -> {key})"
                )
            yield pd.DataFrame(
                _encode_runs(carry, [0, len(carry)], 1)
            )

    # only the encoded columns cross to Python (text etc. never do)
    return silver.select("cell_id", "conv_id", "ts", *value_cols).mapInPandas(
        _pack_stream, schema=schema
    )


def unpack_cells(packed, value_cols: tuple[str, ...] = ("text_len", "tool_call")):
    """mapInPandas unpack: packed rows -> (cell_id, conv_id, ts, metrics...).
    UDTF-shaped (one row in, n rows out)."""
    import pandas as pd

    schema = "cell_id int, conv_id string, ts timestamp, " + ", ".join(
        f"{c} float" for c in value_cols
    )

    def _unpack(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # columns -> numpy ONCE per batch (no iterrows: each packed
            # row is a whole conversation, so per-row pandas overhead
            # would scale with conv count, not data size)
            cells = pdf["cell_id"].to_numpy()
            convs = pdf["conv_id"].to_numpy()
            ts_blobs = pdf["ts_blob"].to_numpy()
            val_blobs = {c: pdf[f"{c}_blob"].to_numpy() for c in value_cols}
            ts_parts = [decode_timestamps(b) for b in ts_blobs]
            lens = np.array([len(t) for t in ts_parts])
            d = {
                "cell_id": np.repeat(cells, lens).astype(np.int32),
                "conv_id": np.repeat(convs, lens),
                "ts": np.concatenate(ts_parts).astype("datetime64[us]")
                if ts_parts
                else np.empty(0, "datetime64[us]"),
            }
            for c in value_cols:
                d[c] = np.concatenate(
                    [decode_values_f32(b) for b in val_blobs[c]]
                )
            yield pd.DataFrame(d)

    return packed.mapInPandas(_unpack, schema=schema)

"""Gorilla time-series compression (Pelkonen et al., VLDB 2015) as Spark UDFs.

Encodes per-(key, span) point streams into a BinaryType payload:
  timestamps — delta-of-delta with the paper's bit buckets
               (0 / 7 / 9 / 12 / 64 bits + '0'/'10'/'110'/'1110'/'1111' tags),
  values     — float64 XOR with 5-bit leading-zero + 6-bit block-length
               control, reusing the previous meaningful-bit window when
               possible.

The reference has no compression (feasts holds R vectors in memory); this
is a north-rule engine component [BASELINE.json].

Scale design:
  - The encoder is numpy-vectorized: delta-of-delta bucket classification,
    XOR lead/trail counts, and the final bit-packing all run as array ops;
    the only per-point Python work is the (inherently sequential) XOR
    control-window recurrence, a handful of int ops per point. The bit
    stream is assembled with one `np.bitwise_or.at` packing pass instead of
    a quadratic Python-bignum accumulator.
  - Decode has two paths. With the encode-time tag-index sidecar
    (`gorilla_encode_indexed` writes 1 byte/point of per-point entry
    bit-lengths next to the payload; format unchanged), decode is FULLY
    vectorized — entry positions are one cumsum, tags/headers/payloads
    are word-pair gathers, the XOR window-reuse chain resolves with one
    maximum.accumulate — measuring 4.5-7M pts/s/core (5-6x the scan
    path). Without the sidecar, the fallback is the two-pass scan: a
    sequential tag-bit walk that skips payloads by position arithmetic,
    then the same vectorized reconstruction (two cumsums + one
    bitwise_xor.accumulate).
  - `compress_chunks` puts a bounded calendar span (day for the 1m tier,
    month for 1h, year for 1d) in its OWN group key, so a whale series can
    never become a single unbounded Python group.
  - `decompress_chunks` uses mapInPandas — chunk rows decode independently,
    no shuffle at all.
  - At the engine's batch sizes a Python task's fixed cost outweighs its
    encoding. Each task starts with the worker's file setup, which calls
    `importlib.invalidate_caches()`; on CPython < 3.12 that re-parsed the
    whole pyspark.zip directory once per cached zipimporter (16 reads,
    about 0.15 s of worker CPU per task). `feasts_spark/__init__.py`
    makes that call skip only archives whose (mtime, size) is unchanged
    since their last read, so a reused worker pays the re-read once and
    a changed archive is still re-read. CPython >= 3.12 already reads
    lazily and is left as it is. Worker CPU per 3-tier build fell from
    3.5-3.8 s to 0.9-1.1 s (README, "Python-task fixed cost").
    Timestamps cross the Arrow boundary as int64 microseconds
    (`unix_micros` in the plan), not as per-element Python datetimes.

Round-trip is bit-exact (tested): decode(encode(ts, vals)) == (ts, vals),
and the byte format is identical to the round-1 scalar encoder (spec test
in tests/test_gorilla_spec.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_U64 = np.uint64
_MASK32 = np.uint64(0xFFFFFFFF)


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (x==0 -> 64)."""
    x = x.astype(np.uint64, copy=True)
    lead = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        hi_zero = (x >> _U64(s)) == 0
        lead = np.where(hi_zero, lead + s, lead)
        x = np.where(hi_zero, x, x >> _U64(s))
    return np.where(x == 0, lead + 1, lead)


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (x==0 -> 64)."""
    x = x.astype(np.uint64)
    low = x & (~x + _U64(1))  # isolate lowest set bit
    return np.where(x == 0, np.int64(64), 63 - _clz64(low))


def _pack_bits(values: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack (value, nbits<=32) entries MSB-first into a zero-padded stream.

    Each entry spans at most 5 bytes after byte alignment; contributions
    never overlap bit-wise, so 5 `np.bitwise_or.at` scatter passes build
    the whole buffer with no sequential loop.
    """
    nbits = nbits.astype(np.int64)
    end = np.cumsum(nbits)
    total = int(end[-1]) if end.size else 0
    start = end - nbits
    shift = (-end) % 8  # left-shift to byte-align each entry's LSB
    v = values.astype(np.uint64) << shift.astype(np.uint64)  # < 2^39
    b_end = (end - 1) // 8
    b_start = start // 8
    buf = np.zeros((total + 7) // 8, dtype=np.uint8)
    span = b_end - b_start + 1  # 1..5 bytes
    for j in range(5):
        m = span > j
        if not m.any():
            break
        np.bitwise_or.at(
            buf, b_end[m] - j, ((v[m] >> _U64(8 * j)) & _U64(0xFF)).astype(np.uint8)
        )
    return buf.tobytes()


def gorilla_encode(ts_us: np.ndarray, values: np.ndarray) -> bytes:
    """Encode parallel int64-microsecond timestamps + float64 values."""
    return _encode_with_bits(ts_us, values)[0]


def gorilla_encode_indexed(
    ts_us: np.ndarray, values: np.ndarray
) -> tuple[bytes, bytes]:
    """gorilla_encode plus a tag-index sidecar: one version byte (0x01)
    followed by a uint8 per point 1..n-1 giving that point's TOTAL entry
    bit-length (ts entry + value entry; max 68+77=145 fits a byte). The
    payload byte format is IDENTICAL to gorilla_encode's — the sidecar is
    a pure speed/space trade (1 byte/point) that turns decode pass 1 from
    a sequential Python tag scan into vectorized gathers
    (gorilla_decode_indexed): entry start positions are just a cumsum."""
    payload, bits = _encode_with_bits(ts_us, values)
    if bits is None:
        return payload, b"\x01"
    return payload, b"\x01" + bits.astype(np.uint8).tobytes()


def _encode_with_bits(
    ts_us: np.ndarray, values: np.ndarray
) -> tuple[bytes, "np.ndarray | None"]:
    ts_us = np.ascontiguousarray(ts_us, dtype=np.int64)
    values = np.ascontiguousarray(values, dtype=np.float64)
    n = ts_us.size
    bits0 = values.view(np.uint64) if n else np.empty(0, np.uint64)
    # --- header: count, first ts, first value (as 32-bit packing entries) ---
    head_v = [np.uint64(n)]
    head_b = [32]
    if n == 0:
        return _pack_bits(np.array(head_v, np.uint64), np.array(head_b)), None
    t0 = np.uint64(ts_us[0].astype(np.uint64))
    v0 = np.uint64(bits0[0])
    head_v += [t0 >> _U64(32), t0 & _MASK32, v0 >> _U64(32), v0 & _MASK32]
    head_b += [32, 32, 32, 32]
    if n == 1:
        return (
            _pack_bits(np.array(head_v, np.uint64), np.array(head_b)),
            None,
        )

    m = n - 1  # points 1..n-1 each emit a ts entry-group and a value group
    # --- timestamps: delta-of-delta, fully vectorized ------------------
    deltas = np.diff(ts_us)
    dod = np.diff(deltas, prepend=np.int64(0))  # dod[0] = delta[0] - 0
    dod_u = dod.astype(np.uint64)
    in_b1 = (dod >= -63) & (dod <= 64)
    in_b2 = (dod >= -255) & (dod <= 256) & ~in_b1
    in_b3 = (dod >= -2047) & (dod <= 2048) & ~in_b1 & ~in_b2
    is_zero = dod == 0
    esc = ~(is_zero | in_b1 | in_b2 | in_b3)
    # slot 0: tag (+ inline payload for the small buckets)
    ts_v0 = np.select(
        [is_zero, in_b1, in_b2, in_b3],
        [
            np.uint64(0),
            (_U64(0b10) << _U64(7)) | ((dod + 63).astype(np.uint64)),
            (_U64(0b110) << _U64(9)) | ((dod + 255).astype(np.uint64)),
            (_U64(0b1110) << _U64(12)) | ((dod + 2047).astype(np.uint64)),
        ],
        default=np.uint64(0b1111),
    )
    ts_n0 = np.select([is_zero, in_b1, in_b2, in_b3], [1, 9, 12, 16], default=4)
    # slots 1+2: the 64-bit escape payload split into two 32-bit halves
    ts_v1 = np.where(esc, dod_u >> _U64(32), _U64(0))
    ts_n1 = np.where(esc, 32, 0)
    ts_v2 = np.where(esc, dod_u & _MASK32, _U64(0))
    ts_n2 = np.where(esc, 32, 0)

    # --- values: XOR lead/trail vectorized, control window sequential ---
    xor = bits0[1:] ^ bits0[:-1]
    lead_arr = np.minimum(_clz64(xor), 31)
    trail_arr = _ctz64(xor)
    # Sequential recurrence over precomputed python ints (the XOR window
    # reuse decision depends on the previous emitted header).
    xor_l = xor.tolist()
    lead_l = lead_arr.tolist()
    trail_l = trail_arr.tolist()
    va_v0 = [0] * m  # control (+header) entry
    va_n0 = [0] * m
    va_v1 = [0] * m  # payload high half
    va_n1 = [0] * m
    va_v2 = [0] * m  # payload low half
    va_n2 = [0] * m
    prev_lead, prev_len = -1, -1
    for i in range(m):
        x = xor_l[i]
        if x == 0:
            va_n0[i] = 1  # '0' control bit, value 0
            continue
        lead = lead_l[i]
        trail = trail_l[i]
        if prev_lead >= 0 and lead >= prev_lead and trail >= 64 - prev_lead - prev_len:
            va_v0[i] = 0b10
            va_n0[i] = 2
            payload = x >> (64 - prev_lead - prev_len)
            plen = prev_len
        else:
            mlen = 64 - lead - trail
            va_v0[i] = (0b11 << 11) | (lead << 6) | (mlen - 1)
            va_n0[i] = 13
            payload = x >> trail
            plen = mlen
            prev_lead, prev_len = lead, mlen
        if plen <= 32:
            va_v1[i] = payload
            va_n1[i] = plen
        else:
            va_v1[i] = payload >> 32
            va_n1[i] = plen - 32
            va_v2[i] = payload & 0xFFFFFFFF
            va_n2[i] = 32

    # --- interleave per-point entry groups and pack ---------------------
    vals_mat = np.empty((m, 6), dtype=np.uint64)
    bits_mat = np.empty((m, 6), dtype=np.int64)
    vals_mat[:, 0] = ts_v0
    vals_mat[:, 1] = ts_v1
    vals_mat[:, 2] = ts_v2
    vals_mat[:, 3] = np.array(va_v0, dtype=np.uint64)
    vals_mat[:, 4] = np.array(va_v1, dtype=np.uint64)
    vals_mat[:, 5] = np.array(va_v2, dtype=np.uint64)
    bits_mat[:, 0] = ts_n0
    bits_mat[:, 1] = ts_n1
    bits_mat[:, 2] = ts_n2
    bits_mat[:, 3] = np.array(va_n0, dtype=np.int64)
    bits_mat[:, 4] = np.array(va_n1, dtype=np.int64)
    bits_mat[:, 5] = np.array(va_n2, dtype=np.int64)
    flat_v = np.concatenate([np.array(head_v, np.uint64), vals_mat.ravel()])
    flat_b = np.concatenate([np.array(head_b, np.int64), bits_mat.ravel()])
    keep = flat_b > 0
    return _pack_bits(flat_v[keep], flat_b[keep]), bits_mat.sum(axis=1)


def _bits_to_words(buf: np.ndarray) -> np.ndarray:
    """uint8 buffer -> native-endian uint64 array of its big-endian 64-bit
    words, zero-padded so any bit field starting inside `buf` can be read
    as (word[w] << off) | (word[w+1] >> (64-off)). One O(len) byteswap
    copy, amortized across every _gather_words call of a decode."""
    n8 = ((buf.size + 15) // 8) * 8
    padded = np.zeros(n8, dtype=np.uint8)
    padded[: buf.size] = buf
    return padded.view(">u8").astype(np.uint64)


def _gather_words(
    words: np.ndarray, pos: np.ndarray, nbits: np.ndarray
) -> np.ndarray:
    """Vectorized extraction of `1<=nbits<=64` MSB-first bit fields at
    absolute bit offsets `pos` from a _bits_to_words array: two word loads
    per field instead of a 9-byte window gather."""
    w = (pos >> 6).astype(np.int64)
    off = (pos & 63).astype(np.uint64)
    hi = words[w]
    lo = words[w + 1]
    # off==0 must contribute zero spill bits; (64-off)&63 keeps the shift
    # in range and the where() discards the bogus off==0 lane
    spill = np.where(
        off == 0, _U64(0), lo >> ((_U64(64) - off) & _U64(63))
    )
    return ((hi << off) | spill) >> (_U64(64) - nbits.astype(np.uint64))


def _gather_bits(buf: np.ndarray, pos: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """Vectorized extraction of `nbits<=64` MSB-first bit fields at absolute
    bit offsets `pos` from a zero-padded uint8 buffer."""
    return _gather_words(_bits_to_words(buf), pos, nbits)


def gorilla_decode(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of gorilla_encode — returns (ts_us int64, values float64).

    Two passes. Pass 1 is the (inherently sequential) structure scan, but
    it touches only TAG bits — 1-4 tag bits per timestamp, 1-2 control
    bits plus an optional 11-bit window header per value — and skips every
    payload by pure position arithmetic; each read spans at most two
    64-bit words, so there is no bignum work. Pass 2 extracts all payloads
    in one vectorized gather and reconstructs timestamps with two cumsums
    (dod -> delta -> ts) and values with one bitwise_xor.accumulate.
    """
    pad = (-len(payload)) % 8
    words = np.frombuffer(payload + b"\x00" * (pad + 8), dtype=">u8").tolist()

    pos = 0

    def read(k: int) -> int:
        # MSB-first read (k <= 64) spanning at most two 64-bit words
        nonlocal pos
        w, off = pos >> 6, pos & 63
        pos += k
        chunk = (words[w] << 64) | words[w + 1]
        return (chunk >> (128 - off - k)) & ((1 << k) - 1)

    n = read(32)
    ts = np.empty(n, dtype=np.int64)
    if n == 0:
        return ts, np.empty(0, np.float64)
    t0 = read(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    v0 = read(64)
    if n == 1:
        return (
            np.array([t0], dtype=np.int64),
            np.array([v0], dtype=np.uint64).view(np.float64),
        )

    m = n - 1
    # pass 1: tag scan. Per point, TWO inline bit-peeks (no per-read
    # function calls): a 16-bit peek that covers the whole ts entry for
    # the small buckets (tag + inline dod payload, footprint <= 16 bits)
    # and a 13-bit peek that covers the value control + optional 11-bit
    # window header. Payloads (64-bit ts escapes, XOR windows) are skipped
    # by position arithmetic and extracted vectorized in pass 2.
    dod_l = [0] * m
    esc_i: list[int] = []  # points whose dod is a 64-bit escape
    esc_p: list[int] = []
    va_pos = [0] * m
    va_len = [0] * m
    va_shift = [0] * m
    prev_lead, prev_len = -1, -1
    for i in range(m):
        # ONE 32-bit peek covers the whole ts entry (tag + inline payload,
        # <= 16 bits for the non-escape buckets) AND the value control +
        # optional 11-bit window header (<= 13 bits) that follows it.
        w = pos >> 6
        off = pos & 63
        if off <= 32:
            pk = (words[w] >> (32 - off)) & 0xFFFFFFFF
        else:
            pk = (((words[w] << 64) | words[w + 1]) >> (96 - off)) & 0xFFFFFFFF
        if pk < 0x80000000:  # '0' -> dod = 0
            f = 1
        elif pk < 0xC0000000:  # '10' + 7
            dod_l[i] = ((pk >> 23) & 0x7F) - 63
            f = 9
        elif pk < 0xE0000000:  # '110' + 9
            dod_l[i] = ((pk >> 20) & 0x1FF) - 255
            f = 12
        elif pk < 0xF0000000:  # '1110' + 12
            dod_l[i] = ((pk >> 16) & 0xFFF) - 2047
            f = 16
        else:  # '1111' + 64-bit escape: payload splits the peek; re-peek
            esc_i.append(i)
            esc_p.append(pos + 4)
            pos += 68
            w = pos >> 6
            off = pos & 63
            if off <= 51:
                pk = (words[w] >> (51 - off)) & 0x1FFF
            else:
                pk = (((words[w] << 64) | words[w + 1]) >> (115 - off)) & 0x1FFF
            if pk < 0x1000:
                pos += 1
                continue
            if pk < 0x1800:
                lead, mlen = prev_lead, prev_len
                pos += 2
            else:
                lead = (pk >> 6) & 0x1F
                mlen = (pk & 0x3F) + 1
                prev_lead, prev_len = lead, mlen
                pos += 13
            va_pos[i] = pos
            va_len[i] = mlen
            va_shift[i] = 64 - lead - mlen
            pos += mlen
            continue
        vc = (pk >> (19 - f)) & 0x1FFF  # 13 bits right after the ts entry
        if vc < 0x1000:  # '0' -> xor == 0
            pos += f + 1
            continue
        if vc < 0x1800:  # '10' -> reuse previous window
            lead, mlen = prev_lead, prev_len
            pos += f + 2
        else:  # '11' + 5-bit lead + 6-bit (mlen-1)
            lead = (vc >> 6) & 0x1F
            mlen = (vc & 0x3F) + 1
            prev_lead, prev_len = lead, mlen
            pos += f + 13
        va_pos[i] = pos
        va_len[i] = mlen
        va_shift[i] = 64 - lead - mlen
        pos += mlen

    buf = np.frombuffer(payload + b"\x00" * 16, dtype=np.uint8)
    words = _bits_to_words(buf)  # shared by both gather passes

    # pass 2a: timestamps — small dods were decoded inline; gather only
    # the 64-bit escapes, then double cumsum (dod -> delta -> ts)
    dod = np.array(dod_l, dtype=np.int64)
    if esc_i:
        raw = _gather_words(
            words, np.array(esc_p, dtype=np.int64),
            np.full(len(esc_p), 64, dtype=np.int64),
        )
        dod[np.array(esc_i, dtype=np.int64)] = raw.view(np.int64)
    deltas = np.cumsum(dod)
    ts[0] = t0
    ts[1:] = t0 + np.cumsum(deltas)

    # pass 2b: values — gather XOR payloads, shift into place, XOR-scan
    vp = np.array(va_pos, dtype=np.int64)
    vl = np.array(va_len, dtype=np.int64)
    vs = np.array(va_shift, dtype=np.uint64)
    xor = np.zeros(n, dtype=np.uint64)
    xor[0] = np.uint64(v0)
    has_v = vl > 0
    if has_v.any():
        pay = _gather_words(words, vp[has_v], vl[has_v])
        tail = xor[1:]
        tail[has_v] = pay << vs[has_v]
    vals_u = np.bitwise_xor.accumulate(xor)
    return ts, vals_u.view(np.float64)


def gorilla_decode_indexed(
    payload: bytes, index: bytes | None
) -> tuple[np.ndarray, np.ndarray]:
    """gorilla_decode using the gorilla_encode_indexed sidecar: with
    per-point entry bit-lengths known, entry start positions are one
    cumsum and the whole structure scan becomes vectorized `_gather_bits`
    calls — no sequential Python pass at all. The XOR control-window
    reuse chain ('10' entries inherit the last '11' header) resolves with
    one maximum.accumulate. Falls back to the sequential gorilla_decode
    when the sidecar is absent or not version 0x01."""
    hdr = np.frombuffer(payload[:4], dtype=">u4")
    n = int(hdr[0]) if hdr.size else 0
    if (
        index is None
        or len(index) < 1
        or index[0] != 1
        or len(index) != 1 + max(n - 1, 0)
    ):
        return gorilla_decode(payload)
    if n <= 1:
        return gorilla_decode(payload)

    m = n - 1
    buf = np.frombuffer(payload + b"\x00" * 16, dtype=np.uint8)
    words = _bits_to_words(buf)
    t0 = int(_gather_words(words, np.array([32]), np.array([64]))[0])
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    v0 = _gather_words(words, np.array([96]), np.array([64]))[0]

    lens = np.frombuffer(index, dtype=np.uint8, offset=1).astype(np.int64)
    S = np.empty(m, dtype=np.int64)
    S[0] = 160
    np.cumsum(lens[:-1], out=S[1:])
    S[1:] += 160

    # --- ts entries: classify the 4-bit tag prefix, gather per-bucket
    # inline dod payloads (1-bit entries over-read into the next entry,
    # which is harmless: the leading 0 bit alone classifies them) ---
    tag4 = _gather_words(words, S, np.full(m, 4, dtype=np.int64))
    b_zero = (tag4 >> _U64(3)) == 0
    b1 = (tag4 >> _U64(2)) == _U64(0b10)
    b2 = (tag4 >> _U64(1)) == _U64(0b110)
    b3 = tag4 == _U64(0b1110)
    b_esc = tag4 == _U64(0b1111)
    plen = np.select([b_zero, b1, b2, b3], [1, 7, 9, 12], default=64)
    poff = np.select([b_zero, b1, b2, b3], [0, 2, 3, 4], default=4)
    raw = _gather_words(words, S + poff, plen)
    dod = np.zeros(m, dtype=np.int64)
    dod[b1] = raw[b1].astype(np.int64) - 63
    dod[b2] = raw[b2].astype(np.int64) - 255
    dod[b3] = raw[b3].astype(np.int64) - 2047
    dod[b_esc] = np.ascontiguousarray(raw[b_esc]).view(np.int64)
    tlen = np.select([b_zero, b1, b2, b3], [1, 9, 12, 16], default=68)

    # --- value entries: 2-bit control, 11-bit window header for '11',
    # reuse entries inherit the most recent '11' header ---
    vpos = S + tlen
    c2 = _gather_words(words, vpos, np.full(m, 2, dtype=np.int64))
    v_zero = (c2 >> _U64(1)) == 0
    v_new = c2 == _U64(0b11)
    v_reuse = c2 == _U64(0b10)
    lead = np.zeros(m, dtype=np.int64)
    mlen = np.zeros(m, dtype=np.int64)
    if v_new.any():
        hdr11 = _gather_words(
            words, vpos[v_new] + 2,
            np.full(int(v_new.sum()), 11, dtype=np.int64),
        )
        lead[v_new] = (hdr11 >> _U64(6)).astype(np.int64)
        mlen[v_new] = (hdr11 & _U64(0x3F)).astype(np.int64) + 1
    if v_reuse.any():
        # index of the latest '11' entry at or before each position (the
        # encoder guarantees a '11' precedes the first '10')
        last_new = np.maximum.accumulate(
            np.where(v_new, np.arange(m), -1)
        )
        src = last_new[v_reuse]
        lead[v_reuse] = lead[src]
        mlen[v_reuse] = mlen[src]
    ppos = vpos + np.where(v_new, 13, 2)

    ts = np.empty(n, dtype=np.int64)
    deltas = np.cumsum(dod)
    ts[0] = t0
    ts[1:] = t0 + np.cumsum(deltas)

    xor = np.zeros(n, dtype=np.uint64)
    xor[0] = v0
    has_v = ~v_zero
    if has_v.any():
        pay = _gather_words(words, ppos[has_v], mlen[has_v])
        shift = (64 - lead[has_v] - mlen[has_v]).astype(np.uint64)
        tail = xor[1:]
        tail[has_v] = pay << shift
    vals_u = np.bitwise_xor.accumulate(xor)
    return ts, vals_u.view(np.float64)


CHUNK_SCHEMA = (
    "series_key string, tier string, start_ts timestamp, end_ts timestamp, "
    "n_points int, payload binary, tag_idx binary"
)

# Bounded chunk spans per tier: worst-case points per chunk stays ~O(1000)
# (1440 minutes/day, 744 hours/month, 366 days/year), so executor memory per
# group is independent of how long a conversation/series runs.
SPAN_TRUNC = {"1m": "day", "1h": "month", "1d": "year"}


def compress_chunks(
    df: DataFrame,
    tier: str,
    key_col: str = "series_key",
    ts_col: str = "bucket_ts",
    value_col: str = "val_avg",
    span: str | None = None,
) -> DataFrame:
    """Rollup rows -> one Gorilla chunk per (key, bounded calendar span).

    The span column is part of the operator's own group key (day for 1m,
    month for 1h, year for 1d by default) — a whale series is split across
    chunks by construction rather than relying on callers to pre-split.
    """
    span = span or SPAN_TRUNC.get(tier, "month")

    # One AGG row per chunk (JVM-side time-ordered point arrays via
    # sort_array(collect_list(struct))), then a mapInPandas batch encode:
    # one Arrow batch carries HUNDREDS of chunks instead of applyInPandas'
    # one-group-per-call machinery (~8 ms of per-group overhead for a
    # one-row output — measured 5-6x the encode cost itself on hourly
    # tiers, and AQE's bytes-based coalescing was collapsing the tiny
    # chunk shuffle to ONE partition, serializing the whole stage at any
    # core count). Memory per agg row stays bounded by the span cap above.
    # The explicit repartition carries the chunk rows back across the
    # cores — AQE respects a user repartition with explicit N, so the
    # encode stage keeps its parallelism no matter how few bytes the agg
    # emitted.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    agg = (
        df.withColumn("_span", F.date_trunc(span, F.col(ts_col)))
        .groupBy(key_col, "_span")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"), F.col(value_col).alias("v")
                    )
                )
            ).alias("_pts")
        )
        .select(
            F.col(key_col).cast("string").alias("series_key"),
            F.transform("_pts", lambda p: F.unix_micros(p["t"])).alias("_ts"),
            F.transform("_pts", lambda p: p["v"]).alias("_vals"),
        )
        .repartition(n_parts, "series_key")
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = {
                "series_key": [], "tier": [], "start_ts": [], "end_ts": [],
                "n_points": [], "payload": [], "tag_idx": [],
            }
            for key, ts_list, val_list in zip(
                pdf["series_key"], pdf["_ts"], pdf["_vals"]
            ):
                ts_us = np.asarray(ts_list, dtype=np.int64)
                vals = np.asarray(val_list, dtype=np.float64)
                payload, tag_idx = gorilla_encode_indexed(ts_us, vals)
                rows["series_key"].append(key)
                rows["tier"].append(tier)
                rows["start_ts"].append(ts_us[0])
                rows["end_ts"].append(ts_us[-1])
                rows["n_points"].append(len(ts_us))
                rows["payload"].append(payload)
                rows["tag_idx"].append(tag_idx)
            out = pd.DataFrame(rows)
            for c in ("start_ts", "end_ts"):
                out[c] = pd.to_datetime(out[c], unit="us")
            out["n_points"] = out["n_points"].astype("int32")
            yield out

    return agg.mapInPandas(fn, schema=CHUNK_SCHEMA)


def decompress_chunks(chunks: DataFrame) -> DataFrame:
    """Chunk table -> exploded (series_key, tier, bucket_ts, value) rows.

    Chunks decode independently, so this is mapInPandas — a narrow,
    shuffle-free transformation (the round-1 groupBy version paid a full
    shuffle for nothing).
    """

    cols = ["series_key", "tier", "bucket_ts", "value"]

    def fn(batches):
        for pdf in batches:
            # decode every chunk in the batch into flat arrays and build
            # ONE output frame — a per-chunk pd.DataFrame + concat costs
            # ~1 ms of frame machinery per chunk, which dominates for the
            # coarse tiers' small chunks (same vice the encoder had)
            keys, tiers, ts_parts, val_parts = [], [], [], []
            idx_col = (
                pdf["tag_idx"] if "tag_idx" in pdf.columns else [None] * len(pdf)
            )
            for key, tier, payload, tag_idx in zip(
                pdf["series_key"], pdf["tier"], pdf["payload"], idx_col
            ):
                ts_us, vals = gorilla_decode_indexed(
                    bytes(payload),
                    bytes(tag_idx) if tag_idx is not None else None,
                )
                keys.append(np.repeat(key, ts_us.size))
                tiers.append(np.repeat(tier, ts_us.size))
                ts_parts.append(ts_us)
                val_parts.append(vals)
            if not keys:
                yield pd.DataFrame(columns=cols)
                continue
            yield pd.DataFrame({
                "series_key": np.concatenate(keys),
                "tier": np.concatenate(tiers),
                "bucket_ts": pd.to_datetime(np.concatenate(ts_parts) * 1000),
                "value": np.concatenate(val_parts),
            })

    sel = ["series_key", "tier", "payload"] + (
        ["tag_idx"] if "tag_idx" in chunks.columns else []
    )
    return chunks.select(*sel).mapInPandas(
        fn, schema="series_key string, tier string, bucket_ts timestamp, value double"
    )

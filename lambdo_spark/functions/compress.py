"""Time-series compression codecs: delta-of-delta timestamps and
Gorilla XOR float values (Pelkonen et al., "Gorilla: A Fast, Scalable,
In-Memory Time Series Database", VLDB 2015).

Encoders are numpy-vectorized bit-packers meant to run inside
``applyInPandas`` kernels over per-(url, coarse-partition) ordered
series (SURVEY.md §7.1 "Compression"); nothing here touches Spark —
pure ndarray -> bytes — so the same code is unit-testable without a
session. Decoders are deliberately plain Python: they are the
*reference* side of the round-trip property tests.

Bitstream formats (self-describing, little header + MSB-first bits):

Timestamps (int64 epoch seconds)::

    uint32 count | int64 first | int64 first_delta | dod-codes...
    dod == 0            -> '0'
    dod in [-63, 64]    -> '10'  + 7  bits (dod + 63)
    dod in [-255, 256]  -> '110' + 9  bits (dod + 255)
    dod in [-2047,2048] -> '1110'+ 12 bits (dod + 2047)
    else                -> '1111'+ 64 bits (two's complement)

Values (float64)::

    uint32 count | float64 first | xor-codes...
    xor == 0 -> '0'
    else     -> '11' + 5 bits leading-zero count + 6 bits sig-length
                     + sig bits
    ('10' = reuse-previous-window is valid on decode but the
    vectorized encoder never emits it: dropping that mode removes the
    sequential window state and makes the encoder embarrassingly
    parallel in numpy — a deliberate ratio-for-throughput trade.)
"""

from __future__ import annotations

import struct

import numpy as np

_U64 = np.uint64


def _scatter_code_bits(
    bits: np.ndarray,
    offsets: np.ndarray,
    hi: np.ndarray,
    lo: np.ndarray,
    lengths: np.ndarray,
) -> None:
    """Write each code's bits MSB-first into ``bits`` at its
    ``offsets`` position — one vectorized pass per bit position
    (≤ max(lengths) iterations), codes straddling the 64-bit boundary
    read from the hi word. Shared by the single-series and grouped
    packers so the trickiest loop in the module exists once."""
    max_len = int(lengths.max())
    for j in range(max_len):
        m = lengths > j
        if not m.any():
            break
        shift = (lengths[m] - 1 - j).astype(np.int64)
        hi_part = shift >= 64
        s_lo = np.where(hi_part, 0, shift).astype(np.uint64)
        s_hi = np.where(hi_part, shift - 64, 0).astype(np.uint64)
        bits[offsets[m] + j] = np.where(
            hi_part,
            (hi[m] >> s_hi) & _U64(1),
            (lo[m] >> s_lo) & _U64(1),
        ).astype(np.uint8)


def _pack_codes(codes_hi: np.ndarray, codes_lo: np.ndarray, lengths: np.ndarray) -> bytes:
    """MSB-first concatenation of variable-length codes (≤128 bits each)."""
    n = len(lengths)
    if n == 0:
        return b""
    total = int(lengths.sum())
    bits = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    _scatter_code_bits(bits, offsets, codes_hi, codes_lo, lengths)
    return np.packbits(bits).tobytes()


class _BitReader:
    """MSB-first bit reader over bytes. ``read(n)`` slices only the
    bytes the n-bit window touches and extracts with one shift+mask —
    O(1)-ish per call instead of one Python loop iteration per BIT
    (the old per-bit fold made decode ~an order of magnitude slower;
    decode is the hot read path for compressed retention chunks)."""

    def __init__(self, data: bytes, bit_offset: int = 0):
        self.data = data
        self.pos = bit_offset

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        self.pos = end = p + n
        first = p >> 3
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[first:last], "big")
        return (chunk >> ((last << 3) - end)) & ((1 << n) - 1)


# ---------------------------------------------------------------- timestamps

def _dod_codes(dod: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Delta-of-delta codes as (hi, lo, length) per value: '0' for 0,
    then '10'/'110'/'1110' + 7/9/12-bit offset, else '1111' + 64 raw
    bits."""
    zero = dod == 0
    s7 = (~zero) & (dod >= -63) & (dod <= 64)
    s9 = (~zero) & (~s7) & (dod >= -255) & (dod <= 256)
    s12 = (~zero) & (~s7) & (~s9) & (dod >= -2047) & (dod <= 2048)
    s64 = ~(zero | s7 | s9 | s12)
    lengths = np.select(
        [zero, s7, s9, s12, s64], [1, 9, 12, 16, 68]
    ).astype(np.int64)
    lo = np.zeros(len(dod), dtype=np.uint64)
    hi = np.zeros(len(dod), dtype=np.uint64)
    lo[s7] = (_U64(0b10) << _U64(7)) | (dod[s7] + 63).astype(np.uint64)
    lo[s9] = (_U64(0b110) << _U64(9)) | (dod[s9] + 255).astype(np.uint64)
    lo[s12] = (_U64(0b1110) << _U64(12)) | (dod[s12] + 2047).astype(np.uint64)
    lo[s64] = dod[s64].view(np.uint64)
    hi[s64] = _U64(0b1111)
    return hi, lo, lengths


def encode_timestamps(ts: np.ndarray) -> bytes:
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return struct.pack("<I", 0)
    if n == 1:
        return struct.pack("<Iqq", 1, int(ts[0]), 0)
    deltas = np.diff(ts)
    header = struct.pack("<Iqq", n, int(ts[0]), int(deltas[0]))
    if n == 2:
        return header
    hi, lo, lengths = _dod_codes(np.diff(deltas))
    return header + _pack_codes(hi, lo, lengths)


def decode_timestamps(data: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", data, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    first, first_delta = struct.unpack_from("<qq", data, 4)
    if n == 1:
        return np.array([first], dtype=np.int64)
    out = [first, first + first_delta]
    r = _BitReader(data[20:])
    delta = first_delta
    for _ in range(n - 2):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta += dod
        out.append(out[-1] + delta)
    return np.array(out, dtype=np.int64)


# -------------------------------------------------------------------- values

def _floor_log2(x: np.ndarray) -> np.ndarray:
    """floor(log2(x)) of nonzero uint64s, by binary search on the bits."""
    top = np.zeros(len(x), dtype=np.int64)
    v = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        big = v >= (_U64(1) << _U64(s))
        top[big] += s
        v[big] >>= _U64(s)
    return top


def _xor_codes(xors: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Gorilla XOR codes as (hi, lo, length) per value: '0' for a
    repeat, else '11' (2 bits) | lead (5 bits) | sig-1 (6 bits, sig in
    [1,64]) | sigbits (sig bits); total length 13 + sig, may straddle
    the 64-bit lo/hi boundary. All shifts kept strictly < 64 (numpy
    shift by >= width is undefined)."""
    zero = xors == 0
    nz = ~zero
    lead = np.zeros(len(xors), dtype=np.int64)
    trail = np.zeros(len(xors), dtype=np.int64)
    if nz.any():
        x = xors[nz]
        lead[nz] = np.minimum(63 - _floor_log2(x), 31)  # 5-bit field
        trail[nz] = _floor_log2(x & (~x + _U64(1)))     # lowest set bit

    sig = np.where(nz, 64 - lead - trail, 0).astype(np.int64)
    lengths = np.where(zero, 1, 13 + sig).astype(np.int64)
    sigbits = np.where(nz, xors >> trail.astype(np.uint64), _U64(0))
    head = (_U64(0b11) << _U64(11)) | (
        lead.astype(np.uint64) << _U64(6)
    ) | (np.maximum(sig - 1, 0)).astype(np.uint64)
    sig_u = sig.astype(np.uint64)
    sh_lo = np.minimum(sig_u, _U64(63))          # head << sig (sig<64)
    sh_hi = np.minimum(_U64(64) - sig_u, _U64(63))  # head >> 64-sig
    sig64 = sig_u == 64
    lo = np.where(sig64, sigbits, sigbits | (head << sh_lo))
    hi = np.where(sig64, head, head >> sh_hi)
    lo = np.where(nz, lo, _U64(0)).astype(np.uint64)
    hi = np.where(nz, hi, _U64(0)).astype(np.uint64)
    return hi, lo, lengths


def encode_values(vals: np.ndarray) -> bytes:
    vals = np.asarray(vals, dtype=np.float64)
    n = len(vals)
    if n == 0:
        return struct.pack("<I", 0)
    header = struct.pack("<Id", n, float(vals[0]))
    if n == 1:
        return header
    bits = vals.view(np.uint64)
    hi, lo, lengths = _xor_codes(bits[1:] ^ bits[:-1])
    return header + _pack_codes(hi, lo, lengths)


def decode_values(data: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", data, 0)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    (first,) = struct.unpack_from("<d", data, 4)
    if n == 1:
        return np.array([first], dtype=np.float64)
    # plain-int hot loop: numpy scalar xor/view per value cost ~µs each;
    # Python ints + one bulk uint64→float64 view at the end do not
    prev = struct.unpack("<Q", struct.pack("<d", first))[0]
    out = [prev]
    r = _BitReader(data[12:])
    prev_lead, prev_sig = 0, 64
    for _ in range(n - 1):
        if r.read(1) == 0:
            xor = 0
        else:
            if r.read(1) == 0:  # '10' reuse window (decoder supports it)
                lead, sig = prev_lead, prev_sig
            else:  # '11' new window
                lead = r.read(5)
                sig = r.read(6) + 1
                prev_lead, prev_sig = lead, sig
            sigbits = r.read(sig)
            xor = sigbits << (64 - lead - sig)
        prev ^= xor
        out.append(prev)
    return np.array(out, dtype=np.uint64).view(np.float64)


def compression_ratio(raw_count: int, encoded: bytes, width: int = 8) -> float:
    return (raw_count * width) / max(len(encoded), 1)


# --------------------------------------------------- grouped (batch) API
#
# Encoding one small series per call costs ~0.2 ms of fixed numpy
# overhead; a batch with 100k url-series pays 20 s for microseconds of
# real work. The *_many variants encode EVERY group in one vectorized
# pass: codes for all rows computed at once (group boundaries masked
# out of the delta chains), one global bit-buffer packed with the same
# per-bit-position loop, each group byte-aligned so its blob can be
# sliced out. Blobs are bit-identical to the per-group encoders
# (tests pin this), so decode_* needs no changes.

def _grouped_pack(
    hi: np.ndarray,
    lo: np.ndarray,
    lengths: np.ndarray,
    code_gid: np.ndarray,
    n_groups: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pack per-code bits into one buffer with byte-aligned groups.

    Returns (buf_bytes, group_byte_start, group_byte_len).
    """
    bits_per_group = np.bincount(code_gid, weights=lengths, minlength=n_groups).astype(
        np.int64
    )
    bytes_per_group = (bits_per_group + 7) // 8
    byte_start = np.concatenate(([0], np.cumsum(bytes_per_group)[:-1]))
    total_bytes = int(bytes_per_group.sum())
    bits = np.zeros(total_bytes * 8, dtype=np.uint8)
    if len(lengths):
        # within-group bit offset per code: global running sum reset at
        # group boundaries (codes arrive grouped & in order)
        csum = np.cumsum(lengths)
        starts_of_code = csum - lengths
        grp_first = np.zeros(len(lengths), dtype=np.int64)
        first_ix = np.concatenate(([0], 1 + np.flatnonzero(np.diff(code_gid))))
        grp_base = starts_of_code[first_ix]
        grp_first[first_ix] = 1
        base_per_code = grp_base[np.cumsum(grp_first) - 1]
        within = starts_of_code - base_per_code
        offsets = byte_start[code_gid] * 8 + within
        _scatter_code_bits(bits, offsets, hi, lo, lengths)
    buf = np.packbits(bits)
    return buf, byte_start, bytes_per_group


def encode_timestamps_many(ts: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Encode many concatenated series at once; ``group_starts`` are
    the start indices of each group in ``ts`` (sorted, first == 0)."""
    ts = np.asarray(ts, dtype=np.int64)
    group_starts = np.asarray(group_starts, dtype=np.int64)
    n_groups = len(group_starts)
    ends = np.append(group_starts[1:], len(ts))
    counts = ends - group_starts

    gid = np.repeat(np.arange(n_groups), counts)
    # per-row deltas; invalid across group boundaries
    deltas = np.diff(ts, prepend=ts[:1])  # row i: ts[i]-ts[i-1]
    pos = np.arange(len(ts)) - np.repeat(group_starts, counts)  # pos in group
    first_delta = np.zeros(n_groups, dtype=np.int64)
    has2 = counts >= 2
    first_delta[has2] = ts[group_starts[has2] + 1] - ts[group_starts[has2]]

    # dod codes exist for rows with pos >= 2
    code_mask = pos >= 2
    hi, lo, lengths = _dod_codes((deltas - np.roll(deltas, 1))[code_mask])
    code_gid = gid[code_mask]

    buf, byte_start, byte_len = _grouped_pack(hi, lo, lengths, code_gid, n_groups)
    out: list[bytes] = []
    firsts = ts[group_starts.clip(max=len(ts) - 1)] if len(ts) else np.zeros(n_groups, dtype=np.int64)
    for g in range(n_groups):
        n = int(counts[g])
        if n == 0:
            out.append(struct.pack("<I", 0))
            continue
        if n == 1:
            out.append(struct.pack("<Iqq", 1, int(firsts[g]), 0))
            continue
        header = struct.pack("<Iqq", n, int(firsts[g]), int(first_delta[g]))
        body = buf[byte_start[g] : byte_start[g] + byte_len[g]].tobytes()
        out.append(header + body)
    return out


def encode_values_many(vals: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """Grouped Gorilla XOR encode (see encode_timestamps_many)."""
    vals = np.asarray(vals, dtype=np.float64)
    group_starts = np.asarray(group_starts, dtype=np.int64)
    n_groups = len(group_starts)
    ends = np.append(group_starts[1:], len(vals))
    counts = ends - group_starts
    gid = np.repeat(np.arange(n_groups), counts)
    pos = np.arange(len(vals)) - np.repeat(group_starts, counts)

    bits64 = vals.view(np.uint64) if len(vals) else np.zeros(0, dtype=np.uint64)
    prev = np.roll(bits64, 1)
    code_mask = pos >= 1
    hi, lo, lengths = _xor_codes((bits64 ^ prev)[code_mask])
    code_gid = gid[code_mask]

    buf, byte_start, byte_len = _grouped_pack(hi, lo, lengths, code_gid, n_groups)
    out: list[bytes] = []
    for g in range(n_groups):
        n = int(counts[g])
        if n == 0:
            out.append(struct.pack("<I", 0))
            continue
        header = struct.pack("<Id", n, float(vals[group_starts[g]]))
        if n == 1:
            out.append(header)
            continue
        body = buf[byte_start[g] : byte_start[g] + byte_len[g]].tobytes()
        out.append(header + body)
    return out
